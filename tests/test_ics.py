"""Conformance tests for the iCalendar reader (`extensions/ics.py`):
unfolding, escaping, duration math, RRULE expansion semantics."""

import datetime

import pytest
from pyspark.sql import Row

from trollflow2_spark.extensions.ics import expand_rrule, parse_ics, read_ics


def _cal(*event_lines):
    return "\r\n".join(
        ["BEGIN:VCALENDAR", "VERSION:2.0", *event_lines, "END:VCALENDAR"]
    )


BASIC = _cal(
    "BEGIN:VEVENT",
    "UID:one@x",
    "SUMMARY:Team\\, sync\\; folded title that continues on the",
    " next line",
    "DTSTART:20240101T090000Z",
    "DURATION:PT1H30M",
    "END:VEVENT",
)


def test_unfold_unescape_duration():
    (o,) = parse_ics(BASIC)
    assert o["summary"] == (
        "Team, sync; folded title that continues on thenext line"
    )
    assert o["occ_start"] == "2024-01-01T09:00:00"
    assert o["occ_end"] == "2024-01-01T10:30:00"
    assert o["tzid"] == "UTC" and o["all_day"] == 0


def test_all_day_value_date():
    (o,) = parse_ics(
        _cal(
            "BEGIN:VEVENT",
            "UID:d@x",
            "DTSTART;VALUE=DATE:20240401",
            "END:VEVENT",
        )
    )
    assert o["all_day"] == 1
    assert o["occ_start"] == "2024-04-01T00:00:00"
    assert o["occ_end"] == "2024-04-02T00:00:00"  # implicit one day


def test_daily_interval_count():
    occs, capped = expand_rrule(
        datetime.datetime(2024, 3, 1, 12),
        {"FREQ": "DAILY", "INTERVAL": "2", "COUNT": "3"},
    )
    assert [o.day for o in occs] == [1, 3, 5] and not capped


def test_weekly_byday_order():
    # DTSTART Wed Jan 3: TH 4, MO 8, TH 11, MO 15
    occs, _ = expand_rrule(
        datetime.datetime(2024, 1, 3, 10),
        {"FREQ": "WEEKLY", "BYDAY": "MO,TH", "COUNT": "4"},
    )
    assert [o.strftime("%m-%d") for o in occs] == [
        "01-04", "01-08", "01-11", "01-15",
    ]


def test_monthly_invalid_dates_skipped_not_counted():
    occs, _ = expand_rrule(
        datetime.datetime(2024, 1, 31, 8), {"FREQ": "MONTHLY", "COUNT": "3"}
    )
    assert [o.strftime("%Y-%m-%d") for o in occs] == [
        "2024-01-31", "2024-03-31", "2024-05-31",
    ]


def test_until_inclusive():
    occs, _ = expand_rrule(
        datetime.datetime(2024, 1, 1),
        {"FREQ": "DAILY", "UNTIL": "20240104T000000Z"},
    )
    assert len(occs) == 4


def test_unbounded_rule_trips_cap():
    occs, capped = expand_rrule(
        datetime.datetime(2024, 1, 1), {"FREQ": "DAILY"}, max_occurrences=10
    )
    assert capped and len(occs) == 10


@pytest.mark.parametrize(
    "bad",
    [
        "not a calendar",
        _cal("BEGIN:VEVENT", "UID:x@x", "END:VEVENT"),  # no DTSTART
        _cal(
            "BEGIN:VEVENT",
            "UID:x@x",
            "DTSTART:20240101T000000Z",
            "DURATION:NOPE",
            "END:VEVENT",
        ),
        BASIC[: len(BASIC) // 2],  # truncated: VCALENDAR unterminated
    ],
)
def test_malformed_raise(bad):
    with pytest.raises(ValueError):
        parse_ics(bad)


def test_spark_reader_quarantine(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text=BASIC), Row(doc_id=2, text=BASIC[:30])]
    )
    out = {r.doc_id: r for r in read_ics(df).collect()}
    assert out[1].error is None and out[1].uid == "one@x"
    assert out[2].error is not None and out[2].uid is None


def test_yearly_default_month_day():
    occs, capped = expand_rrule(
        datetime.datetime(2021, 7, 14, 9),
        {"FREQ": "YEARLY", "COUNT": "3"},
    )
    assert [o.strftime("%Y-%m-%d") for o in occs] == [
        "2021-07-14", "2022-07-14", "2023-07-14",
    ] and not capped


def test_yearly_feb29_skips_non_leap_without_consuming_count():
    occs, capped = expand_rrule(
        datetime.datetime(2020, 2, 29, 8),
        {"FREQ": "YEARLY", "COUNT": "3"},
    )
    assert [o.year for o in occs] == [2020, 2024, 2028] and not capped


def test_yearly_century_gap_and_interval():
    # 2096 -> 2104 is the 8-year leap gap (2100 is not a leap year)
    occs, _ = expand_rrule(
        datetime.datetime(2092, 2, 29),
        {"FREQ": "YEARLY", "COUNT": "3"},
    )
    assert [o.year for o in occs] == [2092, 2096, 2104]
    occs, _ = expand_rrule(
        datetime.datetime(2020, 5, 1),
        {"FREQ": "YEARLY", "INTERVAL": "2", "COUNT": "3"},
    )
    assert [o.year for o in occs] == [2020, 2022, 2024]


def test_yearly_bymonth_bymonthday():
    occs, _ = expand_rrule(
        datetime.datetime(2024, 1, 1),
        {
            "FREQ": "YEARLY",
            "BYMONTH": "3,6",
            "BYMONTHDAY": "5,20",
            "COUNT": "5",
        },
    )
    assert [o.strftime("%Y-%m-%d") for o in occs] == [
        "2024-03-05", "2024-03-20", "2024-06-05",
        "2024-06-20", "2025-03-05",
    ]


def test_yearly_always_invalid_rule_trips_cap():
    occs, capped = expand_rrule(
        datetime.datetime(2024, 1, 1),
        {"FREQ": "YEARLY", "BYMONTH": "2", "BYMONTHDAY": "30", "COUNT": "2"},
        max_occurrences=5,
    )
    assert capped and occs == []


def test_yearly_negative_bymonthday_counts_from_month_end():
    occ, capped = expand_rrule(
        datetime.datetime(2024, 1, 1),
        {"FREQ": "YEARLY", "BYMONTH": "2", "BYMONTHDAY": "-1",
         "COUNT": "3"},
    )
    assert [o.strftime("%Y-%m-%d") for o in occ] == [
        "2024-02-29", "2025-02-28", "2026-02-28"
    ]
    assert not capped


def test_bymonthday_zero_still_raises():
    with pytest.raises(ValueError, match="BYMONTHDAY"):
        expand_rrule(
            datetime.datetime(2024, 1, 1),
            {"FREQ": "YEARLY", "BYMONTHDAY": "0", "COUNT": "2"},
        )


def test_monthly_nth_weekday():
    # third Thursday, then last Friday — the two most common
    # business recurrences beyond plain monthly
    occ, _ = expand_rrule(
        datetime.datetime(2026, 1, 1, 9),
        {"FREQ": "MONTHLY", "BYDAY": "3TH", "COUNT": "3"},
    )
    assert [o.strftime("%Y-%m-%d") for o in occ] == [
        "2026-01-15", "2026-02-19", "2026-03-19"
    ]
    occ, _ = expand_rrule(
        datetime.datetime(2026, 1, 1, 9),
        {"FREQ": "MONTHLY", "BYDAY": "-1FR", "COUNT": "3"},
    )
    assert [o.strftime("%Y-%m-%d") for o in occ] == [
        "2026-01-30", "2026-02-27", "2026-03-27"
    ]


def test_monthly_last_day_and_fifth_friday_skips():
    occ, _ = expand_rrule(
        datetime.datetime(2026, 1, 1, 9),
        {"FREQ": "MONTHLY", "BYMONTHDAY": "-1", "COUNT": "4"},
    )
    assert [o.day for o in occ] == [31, 28, 31, 30]
    # months without a 5th Friday are skipped, COUNT not consumed
    occ, _ = expand_rrule(
        datetime.datetime(2026, 1, 1, 9),
        {"FREQ": "MONTHLY", "BYDAY": "5FR", "COUNT": "3"},
    )
    assert [o.strftime("%Y-%m-%d") for o in occ] == [
        "2026-01-30", "2026-05-29", "2026-07-31"
    ]


def test_yearly_byday_with_bymonth():
    occ, _ = expand_rrule(
        datetime.datetime(2026, 1, 1, 9),
        {"FREQ": "YEARLY", "BYMONTH": "11", "BYDAY": "3TH",
         "COUNT": "2"},
    )
    assert [o.strftime("%Y-%m-%d") for o in occ] == [
        "2026-11-19", "2027-11-18"
    ]


def test_bad_byday_tokens_raise():
    for bad in ("XX", "0MO", "6TU", "1.5WE"):
        with pytest.raises(ValueError):
            expand_rrule(
                datetime.datetime(2024, 1, 1),
                {"FREQ": "MONTHLY", "BYDAY": bad, "COUNT": "2"},
            )


def test_unsupported_freq_still_raises():
    # every RFC 5545 FREQ now expands; anything else stays loud
    with pytest.raises(ValueError, match="unsupported FREQ"):
        expand_rrule(
            datetime.datetime(2024, 1, 1),
            {"FREQ": "FORTNIGHTLY", "COUNT": "2"},
        )


def test_yearly_byday_without_bymonth_is_year_scoped():
    # bare BYDAY: every Friday OF THE YEAR, not just DTSTART's month
    occs, capped = expand_rrule(
        datetime.datetime(2024, 1, 5, 9),
        {"FREQ": "YEARLY", "BYDAY": "FR", "COUNT": "60"},
    )
    assert not capped and len(occs) == 60
    # 2024 has 52 Fridays from Jan 5; the 53rd lands in 2025
    assert occs[51] == datetime.datetime(2024, 12, 27, 9)
    assert occs[52] == datetime.datetime(2025, 1, 3, 9)


def test_yearly_byday_ordinal_is_nth_of_year():
    # 20MO = the 20th Monday of the year (RFC 5545 §3.3.10 example)
    occs, _ = expand_rrule(
        datetime.datetime(2024, 1, 1, 9),
        {"FREQ": "YEARLY", "BYDAY": "20MO", "COUNT": "3"},
    )
    assert [o.date() for o in occs] == [
        datetime.date(2024, 5, 13),
        datetime.date(2025, 5, 19),
        datetime.date(2026, 5, 18),
    ]


def test_bysetpos_last_weekday_of_month():
    occs, _ = expand_rrule(
        datetime.datetime(2024, 1, 1, 9),
        {
            "FREQ": "MONTHLY",
            "BYDAY": "MO,TU,WE,TH,FR",
            "BYSETPOS": "-1",
            "COUNT": "4",
        },
    )
    assert [o.date() for o in occs] == [
        datetime.date(2024, 1, 31),
        datetime.date(2024, 2, 29),
        datetime.date(2024, 3, 29),
        datetime.date(2024, 4, 30),
    ]


def test_bysetpos_positive_and_multi():
    # 2nd and last Friday of each month
    occs, _ = expand_rrule(
        datetime.datetime(2024, 1, 1, 9),
        {
            "FREQ": "MONTHLY",
            "BYDAY": "FR",
            "BYSETPOS": "2,-1",
            "COUNT": "4",
        },
    )
    assert [o.date() for o in occs] == [
        datetime.date(2024, 1, 12),
        datetime.date(2024, 1, 26),
        datetime.date(2024, 2, 9),
        datetime.date(2024, 2, 23),
    ]


def test_wkst_changes_biweekly_grouping():
    # RFC 5545 §3.8.5.3's canonical WKST pair
    base = {
        "FREQ": "WEEKLY",
        "INTERVAL": "2",
        "COUNT": "4",
        "BYDAY": "TU,SU",
    }
    mo, _ = expand_rrule(
        datetime.datetime(1997, 8, 5, 9), {**base, "WKST": "MO"}
    )
    su, _ = expand_rrule(
        datetime.datetime(1997, 8, 5, 9), {**base, "WKST": "SU"}
    )
    assert [o.day for o in mo] == [5, 10, 19, 24]
    assert [o.day for o in su] == [5, 17, 19, 31]


def test_bysetpos_requires_byxxx_and_daily_rejected():
    with pytest.raises(ValueError, match="BYSETPOS"):
        expand_rrule(
            datetime.datetime(2024, 1, 1),
            {"FREQ": "MONTHLY", "BYSETPOS": "1", "COUNT": "2"},
        )
    with pytest.raises(ValueError, match="DAILY"):
        expand_rrule(
            datetime.datetime(2024, 1, 1),
            {
                "FREQ": "DAILY",
                "BYMONTH": "1",
                "BYSETPOS": "1",
                "COUNT": "2",
            },
        )
    with pytest.raises(ValueError, match="BYSETPOS"):
        expand_rrule(
            datetime.datetime(2024, 1, 1),
            {"FREQ": "MONTHLY", "BYDAY": "FR", "BYSETPOS": "0"},
        )


def test_bad_wkst_raises():
    with pytest.raises(ValueError, match="WKST"):
        expand_rrule(
            datetime.datetime(2024, 1, 1),
            {"FREQ": "WEEKLY", "WKST": "XX", "COUNT": "2"},
        )


def test_exdate_rdate_apply_after_expansion():
    cal = _cal(
        "BEGIN:VEVENT",
        "UID:ex@x",
        "SUMMARY:Standup",
        "DTSTART:20240101T090000Z",
        "DURATION:PT15M",
        "RRULE:FREQ=DAILY;COUNT=5",
        "EXDATE:20240102T090000Z,20240104T090000Z",
        "EXDATE:20240105T090000Z",
        "RDATE:20240110T090000Z",
        "END:VEVENT",
    )
    occs = parse_ics(cal)
    assert [o["occ_start"] for o in occs] == [
        "2024-01-01T09:00:00",
        "2024-01-03T09:00:00",
        "2024-01-10T09:00:00",
    ]
    assert [o["occ_idx"] for o in occs] == [0, 1, 2]


def test_rdate_period_rejected():
    cal = _cal(
        "BEGIN:VEVENT",
        "UID:p@x",
        "DTSTART:20240101T090000Z",
        "RDATE;VALUE=PERIOD:20240102T090000Z/PT1H",
        "END:VEVENT",
    )
    with pytest.raises(ValueError, match="PERIOD"):
        parse_ics(cal)


def test_exdate_on_non_recurring_event():
    cal = _cal(
        "BEGIN:VEVENT",
        "UID:x@x",
        "DTSTART:20240101T090000Z",
        "EXDATE:20240101T090000Z",
        "END:VEVENT",
    )
    assert parse_ics(cal) == []


def test_subdaily_freq_expansion():
    occs, _ = expand_rrule(
        datetime.datetime(2024, 1, 1, 9),
        {"FREQ": "HOURLY", "INTERVAL": "6", "COUNT": "4"},
    )
    assert [o.hour for o in occs] == [9, 15, 21, 3]
    occs, _ = expand_rrule(
        datetime.datetime(2024, 1, 1, 9),
        {"FREQ": "MINUTELY", "INTERVAL": "90", "COUNT": "3"},
    )
    assert [(o.hour, o.minute) for o in occs] == [
        (9, 0), (10, 30), (12, 0)]
    occs, _ = expand_rrule(
        datetime.datetime(2024, 1, 1, 9),
        {"FREQ": "SECONDLY", "INTERVAL": "30",
         "UNTIL": "20240101T090100Z"},
    )
    assert len(occs) == 3
    with pytest.raises(ValueError, match="BYHOUR"):
        expand_rrule(
            datetime.datetime(2024, 1, 1),
            {"FREQ": "HOURLY", "BYHOUR": "9", "COUNT": "2"},
        )


def test_daily_byday_limits():
    # weekdays-only standup: MO-FR limit, COUNT counts kept days
    occs, _ = expand_rrule(
        datetime.datetime(2024, 1, 5, 9),  # a Friday
        {"FREQ": "DAILY", "BYDAY": "MO,TU,WE,TH,FR", "COUNT": "3"},
    )
    assert [o.date() for o in occs] == [
        datetime.date(2024, 1, 5),
        datetime.date(2024, 1, 8),
        datetime.date(2024, 1, 9),
    ]
    # BYMONTH limit skips non-matching months without consuming COUNT
    occs, _ = expand_rrule(
        datetime.datetime(2024, 1, 30, 9),
        {"FREQ": "DAILY", "INTERVAL": "10", "BYMONTH": "2",
         "COUNT": "3"},
    )
    assert [o.date() for o in occs] == [
        datetime.date(2024, 2, 9),
        datetime.date(2024, 2, 19),
        datetime.date(2024, 2, 29),
    ]
    with pytest.raises(ValueError, match="ordinal"):
        expand_rrule(
            datetime.datetime(2024, 1, 1),
            {"FREQ": "DAILY", "BYDAY": "2MO", "COUNT": "2"},
        )
    # an always-false limit trips the cap loudly
    occs, capped = expand_rrule(
        datetime.datetime(2024, 1, 1),
        {"FREQ": "DAILY", "BYMONTH": "2", "BYMONTHDAY": "30",
         "COUNT": "2"},
        max_occurrences=5,
    )
    assert capped and occs == []
