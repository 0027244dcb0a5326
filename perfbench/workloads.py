"""The three workloads. Each drives the engine only through its public
entry points (``plans.process_message``, ``streaming.run_streaming``,
``queries.QUERIES``) and checks the outputs of every job it ran.

A workload goes through: ``generate`` (seeded inputs, untimed) ->
per set-up ``start`` + ``warm_up`` -> ``prime`` -> one or two timed
``run_phase`` calls -> ``check``. ``run_phase`` returns one record per
attempted job: ``{"id", "latency", "error", ...}``.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import numpy as np

import gen

MAGIC = {"tif": b"II*\x00", "png": b"\x89PNG", "nc": b"CDF\x01"}


def _read_published(out_dir: str) -> dict[str, set[str]]:
    """uid -> published output URIs, from the JSON-lines publisher sink."""
    by_uid: dict[str, set[str]] = {}
    for path in glob.glob(os.path.join(out_dir, "published_messages", "*.json")):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    uri = json.loads(json.loads(line)["message"])["uri"]
                    by_uid.setdefault(os.path.basename(uri).split("_")[0], set()).add(uri)
    return by_uid


def _output_ok(path: str, fmt: str) -> bool:
    """The output exists, is non-empty and starts with its format's magic
    bytes; directory datasets need at least one non-empty part file."""
    if fmt in MAGIC:
        if not os.path.isfile(path) or os.path.getsize(path) == 0:
            return False
        with open(path, "rb") as fh:
            return fh.read(len(MAGIC[fmt])) == MAGIC[fmt]
    if not os.path.isdir(path) or not os.path.exists(os.path.join(path, "_SUCCESS")):
        return False
    parts = glob.glob(os.path.join(path, "part-*"))
    if not parts or sum(os.path.getsize(p) for p in parts) == 0:
        return False
    if fmt == "parquet":
        for p in parts:
            with open(p, "rb") as fh:
                if fh.read(4) != b"PAR1":
                    return False
    return True


def _summary_problem(summary: dict, produced_expected: set[str], published: set[str],
                     out_dir: str, uid: str) -> str | None:
    produced = {p["filename"] for p in summary["result"].produced}
    if produced != produced_expected:
        return f"produced {sorted(produced)} != expected {sorted(produced_expected)}"
    for p in summary["result"].produced:
        if not _output_ok(p["filename"], p["format"]):
            return f"bad output {p['filename']}"
    if glob.glob(os.path.join(out_dir, f"{uid}_*.tmp")):
        return "tmp leftover"
    if published != produced:
        return f"published {sorted(published)} != produced {sorted(produced)}"
    return None


class GranuleFanout:
    """Closed loop, one client: one CF granule per message through the
    reference lifecycle onto two areas in two priority batches."""

    name = "granule_fanout"

    def __init__(self, work: str, seed: int, shape: dict) -> None:
        self.work, self.seed, self.shape = work, seed, shape
        self.out = os.path.join(work, "out")
        self.n_sent = 0

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        s = self.shape
        self.granules = gen.make_granules(
            rng, os.path.join(self.work, "granules"), s["pool"], s["size"], s["nan_frac"])
        self.source_area = {"name": "perfbench_granule", "width": s["size"],
                            "height": s["size"], "x0": 0.0, "y0": 0.0, "dx": 1.0, "dy": 1.0}
        self.areas = s["areas"]
        self.plist = gen.granule_product_list(self.out, self.areas)

    def start(self, spark) -> None:
        from pyspark.sql import functions as F
        from trollflow2_spark.operators.resample import GridArea, register_area
        from trollflow2_spark.operators.transforms import COMPOSITE_REGISTRY, register_composite

        for a in [self.source_area, *self.areas]:
            register_area(GridArea(**a))
        if "overview" not in COMPOSITE_REGISTRY:
            register_composite("overview")(
                lambda df: (F.col("ch1") + F.col("ch2") + F.col("ch3")) / 3.0)

    def _next_message(self, prefix: str) -> dict:
        (msg,) = gen.granule_messages(self.granules, 1, prefix, self.source_area["name"],
                                      start=self.n_sent)
        self.n_sent += 1
        return msg

    def warm_up(self, spark) -> None:
        from trollflow2_spark.plans import process_message

        summary = process_message(spark, self._next_message("warm"), self.plist)
        if summary["status"] != "nominal":
            raise RuntimeError(f"warm-up message failed: {summary}")

    def prime(self, spark) -> None:
        pass

    def stop(self) -> None:
        pass

    def run_phase(self, spark, seconds: float, tracer=None) -> dict:
        from trollflow2_spark.plans import process_message

        jobs = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            msg = self._next_message("g")
            rec = {"id": msg["uid"], "message": msg, "error": None, "latency": None}
            ts = time.perf_counter()
            try:
                if tracer is None:
                    rec["summary"] = process_message(spark, msg, self.plist)
                else:
                    with tracer.span("plans.process_message", job=msg["uid"]):
                        rec["summary"] = process_message(spark, msg, self.plist)
                rec["latency"] = time.perf_counter() - ts
            except Exception as exc:  # a crashed job counts as failed
                rec["error"] = repr(exc)
            jobs.append(rec)
        return {"jobs": jobs, "elapsed": time.perf_counter() - t0}

    def check(self, spark, jobs: list[dict]) -> None:
        """Sets ``rec["error"]`` on every job whose outputs are wrong."""
        import pyarrow.parquet as pq

        published = _read_published(self.out)
        spot_checked = False
        for rec in jobs:
            if rec["error"]:
                continue
            uid, summary = rec["id"], rec["summary"]
            if summary["status"] != "nominal":
                rec["error"] = f"status {summary['status']}: {summary.get('aborted_priorities')}"
                continue
            expected = {
                os.path.join(self.out, f"{uid}_{a['name']}_overview.{fmt}")
                for a in self.areas for fmt in ("tif", "png", "nc", "parquet")
            }
            problem = _summary_problem(summary, expected, published.get(uid, set()),
                                       self.out, uid)
            pixels = {a["name"]: a["width"] * a["height"] for a in self.areas}
            if problem is None:
                for p in summary["result"].produced:
                    if p["n_rows"] != pixels[p["area"]]:
                        problem = f"{p['filename']}: n_rows {p['n_rows']} != {pixels[p['area']]}"
            if problem is None and not spot_checked:
                # one parquet output per run against a numpy nearest-neighbour
                # resample of the seeded granule (row order is not defined,
                # so compare the sorted values and the null count)
                area = self.areas[0]
                path = os.path.join(self.out, f"{uid}_{area['name']}_overview.parquet")
                got = pq.read_table(path).column("overview").to_numpy(zero_copy_only=False)
                got = np.asarray(got, dtype="float64")
                granule = next(g for g in self.granules if g["path"] == rec["message"]["uri"])
                want = gen.nearest_reference(gen.overview(granule["channels"]), area).ravel()
                if not (np.isnan(got).sum() == np.isnan(want).sum()
                        and np.array_equal(np.sort(got[~np.isnan(got)]),
                                           np.sort(want[~np.isnan(want)]))):
                    problem = f"{path}: values differ from the nearest-neighbour reference"
                spot_checked = True
            rec["error"] = problem

    def layer_extras(self, phase: dict) -> dict:
        return {}


class WidePlistStream:
    """Open loop through ``run_streaming``: one generator thread writes
    message files at a fixed rate; a wide product list is pruned by the
    sun checks, and a seeded share of messages fails check_metadata."""

    name = "wide_plist_stream"

    def __init__(self, work: str, seed: int, shape: dict) -> None:
        self.work, self.seed, self.shape = work, seed, shape
        self.out = os.path.join(work, "out")
        self.lock = threading.Lock()
        self.done: dict[str, tuple[float, dict | None, str | None]] = {}
        self.query = None
        self.n_setups = 0
        self.n_phases = 0

    def generate(self) -> None:
        s = self.shape
        rng = np.random.default_rng(self.seed)
        scenes = gen.make_scenes(rng, os.path.join(self.work, "scenes"), s["scene_pool"],
                                 s["scene_size"], s["products_per_area"])
        self.plist = gen.stream_product_list(rng, self.out, s["areas"], s["products_per_area"],
                                             s["sza_window_deg"], s["allowed_platforms"])
        self._rng, self._scenes = rng, scenes

    def _messages(self, n: int, prefix: str, reject_share: float) -> list[dict]:
        s = self.shape
        return gen.stream_messages(self._rng, self.plist, self._scenes, n, prefix,
                                   reject_share, s["survivors"], s["allowed_platforms"])

    def _on_result(self, message: dict, summary: dict) -> None:
        with self.lock:
            self.done[message["uid"]] = (time.perf_counter(), summary, None)

    def _on_crash(self, message: dict, exc: BaseException) -> None:
        with self.lock:
            self.done[message["uid"]] = (time.perf_counter(), None, repr(exc))

    def _send(self, msg: dict) -> None:
        """Atomic publish of one message file into the watched directory."""
        body = {k: v for k, v in msg.items() if k != "expect"}
        tmp = os.path.join(self.staging, msg["uid"] + ".json")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(body, fh)
        os.replace(tmp, os.path.join(self.msg_dir, msg["uid"] + ".json"))

    def _wait(self, uids: list[str], deadline: float) -> None:
        while time.perf_counter() < deadline:
            with self.lock:
                if all(u in self.done for u in uids):
                    return
            time.sleep(0.005)

    def start(self, spark) -> None:
        from trollflow2_spark.streaming import run_streaming

        self.n_setups += 1
        base = os.path.join(self.work, f"stream{self.n_setups}")
        self.msg_dir = os.path.join(base, "messages")
        self.staging = os.path.join(base, "staging")
        os.makedirs(self.msg_dir)
        os.makedirs(self.staging)
        self.query = run_streaming(spark, self.msg_dir, self.plist,
                                   os.path.join(base, "checkpoint"),
                                   on_result=self._on_result, on_crash=self._on_crash)

    def _send_untimed(self, msgs: list[dict]) -> None:
        """Process ``msgs`` one after another, outside any timing."""
        for msg in msgs:
            self._send(msg)
            self._wait([msg["uid"]], time.perf_counter() + 150.0)
            with self.lock:
                _t, summary, err = self.done.get(msg["uid"], (None, None, "timed out"))
            want = "nominal" if msg["expect"] else "aborted"
            if err or summary["status"] != want:
                raise RuntimeError(f"untimed message {msg['uid']} failed: {err or summary}")

    def warm_up(self, spark) -> None:
        self._send_untimed(self._messages(1, f"warm{self.n_setups}x", 0.0))

    def prime(self, spark) -> None:
        self._send_untimed(self._messages(self.shape["prime_messages"], "prime", 0.34))

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def run_phase(self, spark, seconds: float, tracer=None) -> dict:
        s = self.shape
        rate = s["rate_msgs_per_s"]
        n = max(1, int(round(rate * seconds)))
        self.n_phases += 1
        msgs = self._messages(n, f"s{self.n_phases}x", s["reject_share"])
        first_batch = (self.query.lastProgress or {}).get("batchId", -1)
        t0 = time.perf_counter() + 0.05
        due = {m["uid"]: t0 + i / rate for i, m in enumerate(msgs)}
        lags: list[float] = []

        # this thread is the generator; the stream handles messages on its own
        for m in msgs:
            wait = due[m["uid"]] - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            self._send(m)
            lags.append(time.perf_counter() - due[m["uid"]])
        with self.lock:
            backlog = sum(1 for m in msgs if m["uid"] not in self.done)
        # a message still unfinished this long after the last one was due
        # counts as failed
        self._wait([m["uid"] for m in msgs], t0 + n / rate + s["drain_grace_s"])
        jobs, last = [], t0
        for m in msgs:
            rec = {"id": m["uid"], "message": m, "due": due[m["uid"]], "error": None,
                   "latency": None}
            with self.lock:
                got = self.done.get(m["uid"])
            if got is None:
                rec["error"] = "not finished when the run ended"
            else:
                t_done, rec["summary"], rec["error"] = got
                if rec["error"] is None:
                    rec["latency"] = t_done - due[m["uid"]]
                    last = max(last, t_done)
            jobs.append(rec)
        progress = [p for p in self.query.recentProgress
                    if p["batchId"] > first_batch and p["numInputRows"] > 0]
        return {"jobs": jobs, "elapsed": last - t0, "generator_lag": lags,
                "backlog_end": backlog, "progress": progress}

    def check(self, spark, jobs: list[dict]) -> None:
        published = _read_published(self.out)
        for rec in jobs:
            if rec["error"]:
                continue
            msg, summary = rec["message"], rec["summary"]
            want_status = "nominal" if msg["expect"] else "aborted"
            if summary["status"] != want_status:
                rec["error"] = f"status {summary['status']} != {want_status}"
                continue
            rec["error"] = _summary_problem(
                summary, gen.expected_stream_files(msg, self.out),
                published.get(msg["uid"], set()), self.out, msg["uid"])

    def layer_extras(self, phase: dict) -> dict:
        prog = phase["progress"]

        def med(values):
            return float(np.median(values)) if values else 0.0

        return {
            "streaming.trigger_ms": med([p["durationMs"].get("triggerExecution", 0) for p in prog]),
            "streaming.wal_commit_ms": med([p["durationMs"].get("walCommit", 0) for p in prog]),
            "streaming.msgs_per_batch": med([p["numInputRows"] for p in prog]),
            "streaming.backlog_end": float(phase["backlog_end"]),
            "streaming.generator_lag_s": max(phase["generator_lag"], default=0.0),
        }


def _normalize(v):
    import datetime
    import decimal

    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(_normalize(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return tuple(_normalize(x) for x in v)
    return str(v)


def result_digest(columns: list[str], rows) -> str:
    """Order-free digest of a result: column names plus the sorted
    normalized rows (numbers compare as floats, as the oracle gate does)."""
    import hashlib

    norm = sorted(repr(tuple(_normalize(v) for v in r)) for r in rows)
    return hashlib.sha256(repr((list(columns), norm)).encode()).hexdigest()


class OperatorMix:
    """Closed loop, one client, over whole cycles of a fixed list of
    contract queries into the ``noop`` sink."""

    name = "operator_mix"

    def __init__(self, work: str, seed: int, shape: dict) -> None:
        self.work, self.seed, self.shape = work, seed, shape
        self.data = os.path.join(work, "tables")
        self.queries = list(shape["queries"])

    def generate(self) -> None:
        gen.make_tables(np.random.default_rng(self.seed), self.data, self.shape["tables"])

    def start(self, spark) -> None:
        pass

    def _run(self, spark, name: str) -> None:
        from trollflow2_spark.queries import QUERIES

        QUERIES[name](spark, self.data).write.format("noop").mode("overwrite").save()

    def warm_up(self, spark) -> None:
        self._run(spark, self.queries[0])

    def _oracle_digests(self) -> dict[str, str]:
        """Each query's result digest from its DuckDB twin."""
        import duckdb

        from trollflow2_spark.oracles import ORACLES

        con = duckdb.connect()
        try:
            for t in gen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.data, t + '.parquet')}'")
            digests = {}
            for name in self.queries:
                rel = con.sql(ORACLES[name])
                digests[name] = result_digest(list(rel.columns), rel.fetchall())
            return digests
        finally:
            con.close()

    def prime(self, spark) -> None:
        """One untimed cycle that also keeps each query's result digest
        for :meth:`check`."""
        from trollflow2_spark.queries import QUERIES

        self.digests = {}
        for name in self.queries:
            df = QUERIES[name](spark, self.data)
            self.digests[name] = result_digest(df.columns, df.collect())

    def stop(self) -> None:
        pass

    def run_phase(self, spark, seconds: float, tracer=None) -> dict:
        jobs, cycles, cycle = [], [], 0.0
        t0 = time.perf_counter()
        # whole cycles keep the query mix fixed; stop at the cycle boundary
        # nearest to ``seconds``, judged by the last cycle's length, but
        # not before ``min_cycles`` cycles
        while (len(cycles) < self.shape["min_cycles"]
               or time.perf_counter() - t0 + cycle / 2 < seconds):
            c0 = time.perf_counter()
            for name in self.queries:
                rec = {"id": name, "error": None, "latency": None}
                ts = time.perf_counter()
                try:
                    if tracer is None:
                        self._run(spark, name)
                    else:
                        with tracer.span(f"queries.{name}", job=f"{name}#{len(jobs)}"):
                            self._run(spark, name)
                    rec["latency"] = time.perf_counter() - ts
                except Exception as exc:  # a crashed query counts as failed
                    rec["error"] = repr(exc)
                jobs.append(rec)
            cycle = time.perf_counter() - c0
            cycles.append(cycle)
        return {"jobs": jobs, "elapsed": time.perf_counter() - t0, "cycles": cycles}

    def check(self, spark, jobs: list[dict]) -> None:
        """Each query's result digest (from :meth:`prime`) against its
        DuckDB twin; a mismatch fails every timed job of that query."""
        oracle = self._oracle_digests()
        bad = {name for name in self.queries if self.digests[name] != oracle[name]}
        for rec in jobs:
            if rec["error"] is None and rec["id"] in bad:
                rec["error"] = "result digest differs from the DuckDB oracle"

    def layer_extras(self, phase: dict) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (GranuleFanout, WidePlistStream, OperatorMix)}
