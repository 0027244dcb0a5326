"""Sources: messages -> input files -> scene DataFrame.

The reference's scan path is ``create_scene`` (open input files with a
named reader, ``/root/reference/trollflow2/plugins/__init__.py:86-99``)
fed by filenames pulled out of a posttroll message
(``launcher.py:303-317``). Here:

- a *message* is a plain dict: the JSON object its sender wrote (shape
  from the reference's example payloads,
  ``tests/test_trollflow2.py:271-282``),
- a *reader* is a registered ``(spark, paths, **kwargs) -> DataFrame``
  loader (≙ the satpy reader registry; ours maps to Spark datasources),
- the scene is a DataFrame: lazy, columnar, schema known after load.

Scale notes: the columnar readers go straight to ``spark.read.<format>``
so the scan keeps predicate/projection pushdown; a 1000-file message
becomes one multi-path scan (parallelism = files × row-groups), never a
driver loop. Building a parquet, ORC or raster scene starts no Spark
job, so the data's first job is the save gather. Parquet scenes are
typed from the files' footers, read on the driver (``spark.read.parquet``
alone would run one job per scene to infer the schema), and the scan's
Spark plan is built only when something first calls into Spark
(:class:`FooterScan`), so opening one builds no plan; ORC inference
already runs no job, and the raster readers type the scene from a
driver-side header read.

Route rule for the save gather (:func:`gather_arrow`): a batch that
writes the :class:`FooterScan` exactly as ``create_scene`` opened it
(the rule is its type) only moves data, so its columns are read from
the files on the driver with pyarrow; the batch starts no Spark job and
never builds the scan's plan. That read is taken only where it gives
exactly the table ``toArrow()`` gives. Any frame a plugin derived
(composites, aggregate, a non-``null`` resample, a bbox filter) is a
plain DataFrame and builds the scan's plan once; it, and every raster
scene, is gathered through Spark. The driver read is bounded by what
the writers hold anyway: one batch's output columns, which every writer
encodes on the driver.
"""

from __future__ import annotations

import json
import mmap
import os
import tarfile
from datetime import datetime, timezone
from functools import cached_property
from typing import Any, Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from trollflow2_spark.sinks import imagery, netcdf

#: message types the runner consumes (``launcher.py:60``)
ACCEPTED_MESSAGE_TYPES = ("file", "dataset", "collection")


class MessageTimeError(ValueError):
    """A message time that is present but not readable."""


def message_time(message: dict, key: str = "start_time") -> datetime | None:
    """``message[key]`` as an aware UTC datetime, the one clock rule for
    message times (≙ ``datetime_decoder``, ``cli.py:83-101``): a datetime
    passes through, naive = UTC; a string is read by
    ``datetime.fromisoformat`` (ISO 8601, no zone = UTC); missing or null
    is ``None``; anything else raises :class:`MessageTimeError`."""
    value = message.get(key)
    if value is None:
        return None
    try:
        ts = datetime.fromisoformat(value) if isinstance(value, str) else value
        if ts.tzinfo is None:
            return ts.replace(tzinfo=timezone.utc)
        return ts.astimezone(timezone.utc)
    except (AttributeError, TypeError, ValueError, OverflowError):
        raise MessageTimeError(f"unreadable {key} {value!r}") from None


class SceneCreationError(RuntimeError):
    """Input files could not be opened (≙ AbortProcessing trigger at
    ``plugins/__init__.py:97-99``)."""


def gen_dict_extract(var: Any, key: str) -> Iterator[Any]:
    """Yield every value of ``key`` anywhere in a nested dict/list
    structure (≙ ``dict_tools.py:65-77``, reimplemented)."""
    if isinstance(var, dict):
        for k, v in var.items():
            if k == key:
                yield v
            elif isinstance(v, (dict, list)):
                yield from gen_dict_extract(v, key)
    elif isinstance(var, list):
        for item in var:
            yield from gen_dict_extract(item, key)


def extract_filenames(message: dict) -> list[str]:
    """Pull input URIs out of a message payload: prefer ``uri``, fall back
    to ``path`` then ``uid``; recurse through ``dataset``/``collection``
    nesting (≙ ``launcher.py:303-317``)."""
    found: list[str] = []
    for key in ("uri", "path", "uid"):
        for val in gen_dict_extract(message, key):
            if isinstance(val, str) and val:
                found.append(val)
        if found:
            break
    # de-dup, preserve order
    seen: set[str] = set()
    return [f for f in found if not (f in seen or seen.add(f))]


def _extract_archive_members(
    archive_path: str,
    members: list[str],
    workdir: str | None = None,
    kind: str = "zip",
) -> list[str]:
    """Driver-side unpack of the *listed* archive members into a temp dir.

    Message-sized by construction: the member list is the message's file
    list, never a data scan — Spark then reads the extracted local files
    natively (archives have no Hadoop FS layer, ≙ the fsspec
    ZipFileSystem round-trip in ``tests/test_launcher.py:205-246``).
    ``kind`` is ``zip``, ``tar`` (stdlib-only; tar auto-detects
    gz/bz2/xz compression) or ``7z`` (the repo's own stdlib-lzma
    container parser, `sources/sevenzip.py`)."""
    import tempfile
    import zipfile

    out_dir = workdir or tempfile.mkdtemp(prefix=f"tf2_{kind}_")
    out = []
    if kind == "7z":
        from trollflow2_spark.sources.sevenzip import parse_7z

        with open(archive_path, "rb") as fh:
            raw = fh.read()
        wanted = [m.lstrip("/") for m in members]
        for m, name in zip(members, wanted):
            if ".." in name.split("/"):
                raise SceneCreationError(f"unsafe 7z member {m!r}")
        try:
            # selective decode: only folders holding requested members
            entries = dict(parse_7z(raw, members=wanted))
        except Exception as e:  # corrupt or out-of-scope coder chain
            raise SceneCreationError(f"unreadable 7z archive: {e}")
        for m in members:
            name = m.lstrip("/")
            if name + "/" in entries:
                raise SceneCreationError(
                    f"7z member {m!r} is a directory, not a file"
                )
            if name not in entries:
                raise SceneCreationError(
                    f"member {m!r} not present in 7z archive"
                )
            target = os.path.join(out_dir, name)
            os.makedirs(os.path.dirname(target) or out_dir, exist_ok=True)
            with open(target, "wb") as dst:
                dst.write(entries[name])
            out.append(target)
        return out
    if kind == "zip":
        with zipfile.ZipFile(archive_path) as zf:
            for m in members:
                out.append(zf.extract(m, out_dir))
    else:
        try:
            with tarfile.open(archive_path, "r:*") as tf:
                for m in members:
                    name = m.lstrip("/")
                    if hasattr(tarfile, "data_filter"):
                        tf.extract(name, out_dir, filter="data")
                    else:  # pre-3.12-backport stdlib: sanitize by hand
                        info = tf.getmember(name)
                        parts = info.name.split("/")
                        if info.name.startswith("/") or ".." in parts or not (
                            info.isfile() or info.isdir()
                        ):
                            raise tarfile.TarError(f"unsafe tar member {info.name!r}")
                        tf.extract(info, out_dir)
                    out.append(os.path.join(out_dir, name))
        except tarfile.ReadError:
            # a bare gz/bz2/xz file (no tar inside): single-member spec
            return _decompress_single_member(archive_path, members, out_dir)
    return out


def _sniff_archive_kind(archive_path: str) -> str:
    """Identify an archive by magic bytes (what libarchive does before
    dispatching): ``zip``, ``tar`` (plain ustar), ``compressed``
    (gz/bz2/xz — a tar.* or a single compressed member; stdlib
    ``tarfile``/decompressors disambiguate), else raise."""
    with open(archive_path, "rb") as fh:
        head = fh.read(512)
    if head[:4] == b"PK\x03\x04":
        return "zip"
    if head[:6] == b"7z\xbc\xaf\x27\x1c":
        return "7z"
    if (head[:2] == b"\x1f\x8b" or head[:3] == b"BZh"
            or head[:6] == b"\xfd7zXZ\x00"
            or head[:4] == b"\x28\xb5\x2f\xfd"
            or head[:4] == b"\x04\x22\x4d\x18"):
        return "compressed"
    if len(head) >= 262 and head[257:262] == b"ustar":
        return "tar"
    raise SceneCreationError(
        f"unrecognized archive format at {archive_path!r} (supported: zip, "
        "7z, tar, tar.gz/bz2/xz, single gz/bz2/xz/zst/lz4 members); unpack upstream"
    )


def _decompress_single_member(
    archive_path: str, members: list[str], workdir: str | None = None
) -> list[str]:
    """A bare gz/bz2/xz file holds exactly one member: decompress it
    driver-side (stdlib) and return its local path for every requested
    member name (they all denote the same payload)."""
    import bz2
    import gzip
    import lzma
    import shutil
    import tempfile

    with open(archive_path, "rb") as fh:
        head = fh.read(6)
    out_dir = workdir or tempfile.mkdtemp(prefix="tf2_gz_")
    name = os.path.basename(members[0]) if members else "member"
    target = os.path.join(out_dir, name or "member")
    if head[:4] == b"\x28\xb5\x2f\xfd":
        from trollflow2_spark.sources.zstdcodec import zstd_decompress

        with open(archive_path, "rb") as src, open(target, "wb") as dst:
            dst.write(zstd_decompress(src.read()))
        return [target for _ in members] or [target]
    if head[:4] == b"\x04\x22\x4d\x18":
        from trollflow2_spark.sources.lz4codec import lz4_decompress

        with open(archive_path, "rb") as src, open(target, "wb") as dst:
            dst.write(lz4_decompress(src.read()))
        return [target for _ in members] or [target]
    opener = (
        gzip.open
        if head[:2] == b"\x1f\x8b"
        else bz2.open if head[:3] == b"BZh" else lzma.open
    )
    with opener(archive_path, "rb") as src, open(target, "wb") as dst:
        shutil.copyfileobj(src, dst)
    return [target for _ in members] or [target]


def _parse_spec(spec) -> dict | None:
    if not spec:
        return None
    return json.loads(spec) if isinstance(spec, str) else dict(spec)


def resolve_filesystem_paths(message: dict) -> list[str]:
    """Resolve input URIs through optional fsspec-style ``filesystem``
    specs (≙ ``_create_fs_files``, ``launcher.py:320-328``):

    - object stores: a spec like ``{"cls": "s3fs...", "protocol": "s3"}``
      rewrites bare paths to protocol URIs Spark's Hadoop FS layer reads
      natively (s3 -> s3a);
    - ``zip``/``tar`` archives (message-level spec or per-dataset-entry
      specs, both appear in the wild): the named members are extracted
      driver-side and replaced by local paths — archives have no Hadoop
      FS equivalent, and the member list is message-sized;
    - ``libarchive`` specs are dispatched by magic bytes the way
      libarchive itself would: zip and (optionally gz/bz2/xz-compressed)
      tar targets route through the stdlib unpackers, bare gz/bz2/xz
      single-member files are decompressed driver-side; genuinely
      exotic formats (7z, rar, iso) raise with guidance.
    """
    filenames = extract_filenames(message)
    msg_spec = _parse_spec(message.get("filesystem"))
    entry_specs: dict[str, dict] = {}
    for entry in message.get("dataset") or []:
        if isinstance(entry, dict) and entry.get("filesystem"):
            spec = _parse_spec(entry["filesystem"])
            for key in ("uri", "path", "uid"):
                if isinstance(entry.get(key), str):
                    entry_specs[entry[key]] = spec

    out: list[str] = []
    arc_groups: dict[tuple[str, str], list[str]] = {}
    arc_slots: list[tuple[int, str, str]] = []  # (position, fo, member)
    for f in filenames:
        spec = entry_specs.get(f) or msg_spec
        protocol = (spec or {}).get("protocol") or ""
        if not spec or not protocol:
            out.append(f)
            continue
        if protocol in ("zip", "tar", "libarchive"):
            fo = spec.get("fo") or spec.get("target")
            if not fo:
                raise SceneCreationError(f"{protocol} spec for {f!r} lacks 'fo' target")
            if protocol == "libarchive":
                # dispatch by magic the way libarchive itself would;
                # "compressed" rides the tar opener (it falls back to
                # the single-member decompressors)
                kind = _sniff_archive_kind(fo)
                protocol = kind if kind in ("zip", "7z") else "tar"
            prefix = f"{protocol}://"
            member = f[len(prefix):] if f.startswith(prefix) else f.lstrip("/")
            arc_groups.setdefault((protocol, fo), []).append(member)
            arc_slots.append((len(out), fo, member))
            out.append(None)  # placeholder, filled after extraction
            continue
        rewrite = {"s3": "s3a", "gs": "gs", "abfs": "abfs", "file": "file"}
        protocol = rewrite.get(protocol, protocol)
        if "://" in f:
            out.append(f)
        else:
            out.append(f"{protocol}://{f.lstrip('/') if protocol == 's3a' else f}")

    if arc_groups:
        extracted: dict[tuple[str, str], str] = {}
        for (kind, fo), members in arc_groups.items():
            try:
                paths = _extract_archive_members(fo, members, kind=kind)
            except (OSError, KeyError, tarfile.TarError) as exc:
                raise SceneCreationError(f"cannot unpack {fo!r}: {exc}") from exc
            for m, p in zip(members, paths):
                extracted[(fo, m)] = p
        for pos, fo, member in arc_slots:
            out[pos] = extracted[(fo, member)]
    return out


# ---------------------------------------------------------------------------
# Reader registry (≙ satpy's named readers; ours are Spark datasources)

READER_REGISTRY: dict[str, Callable[..., DataFrame]] = {}


def register_reader(name: str):
    def deco(fn):
        READER_REGISTRY[name] = fn
        return fn

    return deco


#: the footer key under which Spark's parquet writer stores the schema it wrote
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
#: Spark's type for each parameterless Arrow type pyarrow reads a parquet
#: column as; parquet's unsigned ints widen to the next signed type
_ARROW_TO_SPARK = {
    pa.bool_(): T.BooleanType(),
    pa.int8(): T.ByteType(),
    pa.int16(): T.ShortType(),
    pa.int32(): T.IntegerType(),
    pa.int64(): T.LongType(),
    pa.uint8(): T.ShortType(),
    pa.uint16(): T.IntegerType(),
    pa.uint32(): T.LongType(),
    pa.uint64(): T.DecimalType(20, 0),
    pa.float32(): T.FloatType(),
    pa.float64(): T.DoubleType(),
    pa.string(): T.StringType(),
    pa.date32(): T.DateType(),
}


def _spark_type(t: pa.DataType, flag: Callable[[str], bool]) -> T.DataType | None:
    """Spark's type for a parquet column that pyarrow reads as ``t``, or
    None where this map does not cover it (nanosecond timestamps, which
    Spark rejects or, under ``nanosAsLong``, reads as bigint; the null
    type; large and dictionary types; ...).
    ``flag(conf)`` reads a boolean session conf the answer depends on."""
    if t in _ARROW_TO_SPARK:
        return _ARROW_TO_SPARK[t]
    if t == pa.binary():
        return T.StringType() if flag("spark.sql.parquet.binaryAsString") else T.BinaryType()
    if pa.types.is_timestamp(t) and t.unit in ("ms", "us"):
        naive = t.tz is None and flag("spark.sql.parquet.inferTimestampNTZ.enabled")
        return T.TimestampNTZType() if naive else T.TimestampType()
    if pa.types.is_decimal128(t):
        return T.DecimalType(t.precision, t.scale)
    if pa.types.is_list(t):
        element = _spark_type(t.value_type, flag)
        return element and T.ArrayType(element)
    if pa.types.is_map(t):
        key, item = _spark_type(t.key_type, flag), _spark_type(t.item_type, flag)
        return key and item and T.MapType(key, item)
    if pa.types.is_struct(t):
        return _spark_struct(list(t), flag)
    return None


def _spark_struct(fields: list[pa.Field], flag: Callable[[str], bool]) -> T.StructType | None:
    # every field nullable: Spark reads any file source's schema as nullable
    types = [_spark_type(f.type, flag) for f in fields]
    if None in types:
        return None
    return T.StructType([T.StructField(f.name, t) for f, t in zip(fields, types)])


def _as_read(t: T.DataType) -> T.DataType:
    """``t`` as Spark reports it for a file-source read (its
    ``asNullable``): every field, array element and map value nullable,
    field metadata kept. Spark's writer stores ``nullable=false``."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_read(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_as_read(t.elementType))
    if isinstance(t, T.MapType):
        return T.MapType(_as_read(t.keyType), _as_read(t.valueType))
    return t


def _parquet_data_files(path: str) -> list[str] | None:
    """The data files Spark's file listing finds at ``path``: the file
    itself, or a directory's files except the names Spark skips (those
    starting ``_`` or ``.``). None where Spark's own listing must decide:
    a glob, a URI or a missing path, a subdirectory, or a ``_metadata``
    summary file that Spark would read for the schema."""
    if any(c in path for c in "{}[]*?\\"):
        return None
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        return None
    files = []
    for entry in os.scandir(path):
        name = entry.name
        hidden = name.startswith(".") or name.endswith("._COPYING_")
        summary = name.startswith(("_metadata", "_common_metadata"))
        if hidden or (name.startswith("_") and "=" not in name and not summary):
            continue  # Spark's listing skips these
        if name.startswith("_") or not entry.is_file():
            return None  # a summary file Spark reads first, or a subdirectory
        files.append(entry.path)
    return files


def _footer_scan(
    spark: SparkSession, paths: list[str]
) -> tuple[T.StructType, list[tuple[str, Any]]] | None:
    """``(schema, [(data file, footer), ...])`` for the files at
    ``paths``, each footer read once with ``pyarrow.parquet.read_metadata``,
    or None where Spark must infer the schema itself (see
    :func:`parquet_footer_schema`)."""
    import pyarrow.parquet as pq

    def flag(conf: str) -> bool:
        return spark.conf.get(conf).lower() == "true"

    schema = None
    footers = []
    for path in paths:
        files = _parquet_data_files(path)
        if not files:
            return None
        for f in files:
            try:
                footer = pq.read_metadata(f)
                written = (footer.metadata or {}).get(_SPARK_ROW_METADATA)
                if written is not None:
                    found = _as_read(T.StructType.fromJson(json.loads(written)))
                else:
                    found = _spark_struct(list(footer.schema.to_arrow_schema()), flag)
            except (OSError, ValueError, KeyError, TypeError, pa.ArrowException):
                return None  # an unreadable footer or schema: Spark's read reports it
            if found is None or (schema is not None and found != schema):
                return None
            schema = found
            footers.append((f, footer))
    return schema, footers


def parquet_footer_schema(spark: SparkSession, paths: list[str]) -> T.StructType | None:
    """The schema ``spark.read.parquet(*paths)`` infers, read from every
    data file's footer on the driver: the schema Spark's writer stored
    in the footer, made nullable as Spark reports any file-source read
    (:func:`_as_read`), else the Arrow schema mapped to Spark types. None
    wherever Spark must infer it itself: a path that is not a plain file
    or a flat directory of them, an unreadable footer, a type the map
    does not cover, or files whose schemas differ. Spark's inference
    then raises what it raises for them."""
    scan = _footer_scan(spark, paths)
    return None if scan is None else scan[0]


class FooterScan(ClassicDataFrame):
    """A parquet scan typed from its data files' footers on the driver.

    ``schema`` (and so ``columns`` and ``dtypes``) and ``sparkSession``
    need no JVM call; the JVM plan, ``spark.read.schema(schema)
    .parquet(*paths)``, is built the first time anything calls into
    Spark, once. ``_footers`` is the ``[(data file, footer), ...]`` list
    :func:`gather_arrow` reads the batch's columns from (private names,
    so that a column named ``paths`` stays an attribute of the frame)."""

    def __new__(cls, *args):
        return object.__new__(cls)  # the base __new__ would call __init__ with its own arguments

    def __init__(
        self, spark: SparkSession, paths: list[str], schema: T.StructType, footers: list
    ):
        super().__init__(None, spark)
        del self._jdf  # the base sets it; the plan below is built on first use
        self.schema = schema  # the cached property, preset
        self._paths = paths
        self._footers = footers

    @cached_property
    def _jdf(self):
        return self.sparkSession.read.schema(self.schema).parquet(*self._paths)._jdf


@register_reader("parquet")
def read_parquet(spark: SparkSession, paths: list[str], **kwargs) -> DataFrame:
    """The parquet scan of ``paths``. A :class:`FooterScan` typed by
    :func:`parquet_footer_schema` on the driver, so opening it builds no
    Spark plan and starts no Spark job. Spark infers the schema (one job,
    run here) where the footers cannot give it, or where reader options
    are given: some of them (``mergeSchema``, say) change inference."""
    scan = None if kwargs else _footer_scan(spark, paths)
    if scan is None:
        return spark.read.options(**kwargs).parquet(*paths)
    return FooterScan(spark, paths, *scan)


#: Spark types whose ``toArrow()`` values equal a pyarrow read of the
#: parquet column cast to ``toArrow()``'s Arrow type (alone or nested in
#: arrays, maps and structs); ``type(t)``, so char/varchar are not in it
_DRIVER_READ_TYPES = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.StringType, T.BinaryType, T.DateType,
    T.TimestampType, T.TimestampNTZType, T.DecimalType,
)
#: footer keys of a file Spark wrote in the legacy hybrid calendar; its
#: reader rebases those values, a plain pyarrow read does not
_SPARK_LEGACY_KEYS = (b"org.apache.spark.legacyDateTime", b"org.apache.spark.legacyINT96")
_SPARK_VERSION = b"org.apache.spark.version"


def _driver_readable(t: T.DataType) -> bool:
    if isinstance(t, T.ArrayType):
        return _driver_readable(t.elementType)
    if isinstance(t, T.MapType):
        return _driver_readable(t.keyType) and _driver_readable(t.valueType)
    if isinstance(t, T.StructType):
        return all(_driver_readable(f.dataType) for f in t)
    return type(t) in _DRIVER_READ_TYPES


def _spark_rebases(footer: Any, corrected: bool) -> bool:
    """Whether Spark's reader rebases the file's dates and timestamps, or
    reads them raw; ``corrected``: the session's
    ``datetimeRebaseModeInRead`` is CORRECTED (Spark's rule for a file
    its writer did not mark)."""
    meta = footer.metadata or {}
    if any(key in meta for key in _SPARK_LEGACY_KEYS):
        return True
    version = meta.get(_SPARK_VERSION)
    return version.decode() < "3.0.0" if version is not None else not corrected


def gather_arrow(frame: DataFrame, columns: list[str]) -> pa.Table:
    """The table ``frame.select(*columns).toArrow()`` gives.

    When ``frame`` is a :class:`FooterScan`, the very scan
    :func:`read_parquet` typed from the footers, its columns are read
    from the files on the driver with pyarrow and cast to the Arrow
    schema ``toArrow()`` gives (the same ``to_arrow_schema`` call), so
    no Spark job runs and the scan's plan is not built. That read is
    taken only where it equals Spark's:

    - every selected column's Spark type is in :data:`_DRIVER_READ_TYPES`;
    - no file has an INT96 column, and Spark reads every file's dates and
      timestamps raw (:func:`_spark_rebases`);
    - no file has a Hadoop ``.<name>.crc`` sidecar, whose checksum
      Spark's read verifies;
    - pyarrow reads and casts every file; otherwise Spark's read reports
      the fault (a file gone since ``create_scene`` fails as the plan
      is built, PATH_NOT_FOUND).

    Rows of one file keep their order; across files only the set of rows
    is Spark's, as with Spark. Any other frame (one a plugin derived from
    the scan, a raster scene, another reader's) is gathered through Spark.
    """
    table = _read_on_driver(frame, columns) if isinstance(frame, FooterScan) else None
    return frame.select(*columns).toArrow() if table is None else table


def _read_on_driver(frame: FooterScan, columns: list[str]) -> pa.Table | None:
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    # the schema select(*columns) has, without asking Spark to analyse it:
    # plain, unambiguous top-level names (Spark parses '.', '`' and '*')
    if any(set(c) & set(".`*") for c in columns) or len(
        {c.lower() for c in frame.columns}
    ) < len(frame.columns):
        return None
    schema = T.StructType([frame.schema[c] for c in columns])
    if not all(_driver_readable(f.dataType) for f in schema):
        return None
    conf = frame.sparkSession.conf
    corrected = conf.get("spark.sql.parquet.datetimeRebaseModeInRead").upper() == "CORRECTED"
    for path, footer in frame._footers:
        leaves = footer.schema
        head, name = os.path.split(path)
        if (
            _spark_rebases(footer, corrected)
            or any(leaves.column(i).physical_type == "INT96" for i in range(len(leaves)))
            or os.path.exists(os.path.join(head, f".{name}.crc"))
        ):
            return None
    target = to_arrow_schema(
        schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=conf.get("spark.sql.execution.arrow.useLargeVarTypes") == "true",
    )
    try:
        return pa.concat_tables(
            [pq.ParquetFile(path).read(columns=columns).cast(target) for path, _ in frame._footers]
        )
    except (OSError, pa.ArrowException):
        return None  # a file changed or gone since create_scene: Spark's read reports it


@register_reader("csv")
def _read_csv(spark: SparkSession, paths: list[str], **kwargs) -> DataFrame:
    kwargs.setdefault("header", "true")
    kwargs.setdefault("inferSchema", "true")
    return spark.read.options(**kwargs).csv(paths)


@register_reader("json")
def _read_json(spark: SparkSession, paths: list[str], **kwargs) -> DataFrame:
    return spark.read.options(**kwargs).json(paths)


@register_reader("orc")
def _read_orc(spark: SparkSession, paths: list[str], **kwargs) -> DataFrame:
    """ORC scans get the same native treatment as parquet (predicate
    pushdown, column pruning, vectorized reader). Unlike parquet, ORC
    needs no driver-side footer read: ``spark.read.orc`` infers the
    schema without a Spark job. Avro stays
    unregistered: the spark-avro module is an external jar absent in
    this environment — registering it here would fail at first read
    instead of at configuration time."""
    return spark.read.options(**kwargs).orc(*paths)


# ---------------------------------------------------------------------------
# Raster readers: the reference's *primary* input is satellite data files
# opened by a named satpy reader (``plugins/__init__.py:86-99``; the
# golden e2e test reads a real NetCDF input,
# ``tests/test_cli.py:154-191``). These close the write/read loop with
# the repo's own stdlib decoders (sinks/netcdf.py, sinks/imagery.py):
# every registered *writer* format is now also a registered *reader*.
#
# Output is the wide scene the operators consume — the reference's dict
# of named 2-D arrays as a table: one row per pixel, ``y int, x int``
# (row/col indices, row 0 = top), then one ``double`` column per
# variable in sorted name order. Values pass through as decoded: NaN
# stays NaN (the engine's in-data missing marker) and no pixel is
# dropped. The schema comes from a driver-side read of every file's
# header (mmap'd, so only header bytes are touched), so building the
# scene starts no Spark job. A message's files decode in one mapInArrow
# task that stacks their planes column-wise: the files must name each
# variable once, all on one 2-D grid (one file per channel is fine; two
# granules of one channel are rejected, not merged).


def _scene_grid(paths: list[str], kind: str, magic: bytes, read_header) -> tuple[list[str], tuple]:
    """Driver-side header read of a message's raster files: the scene's
    variable names (sorted) and their shared (h, w) grid. An unopenable
    or mistyped file, a variable named twice, or variables that do not
    share one 2-D grid raise :class:`SceneCreationError` (≙ the reference
    aborting on unopenable files), at create_scene time, not lazily at
    the first action."""
    owner: dict[str, str] = {}
    grids: set[tuple] = set()
    for p in paths:
        try:
            with open(p, "rb") as fh:
                head = fh.read(8)
                if not head.startswith(magic):
                    raise SceneCreationError(f"{p!r} is not a {kind} file (magic {head[:4]!r})")
                with mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ) as buf:
                    variables = read_header(buf)
        except OSError as exc:
            raise SceneCreationError(f"cannot open {p!r}: {exc}") from exc
        for name, shape in variables.items():
            if name in ("y", "x"):
                raise SceneCreationError(f"{p!r}: variable {name!r} clashes with the pixel index")
            if name in owner:
                raise SceneCreationError(f"variable {name!r} is in both {owner[name]!r} and {p!r}")
            owner[name] = p
            grids.add(shape)
    if len(grids) != 1 or len(next(iter(grids))) != 2:
        raise SceneCreationError(f"variables of {paths} do not share one 2-D grid: {sorted(grids)}")
    return sorted(owner), grids.pop()


def _raster_reader(kind: str, magic: bytes, read_header, decode_planes):
    """Build a registered reader from a header read (``buffer ->
    {variable: shape}``) and a decoder (``bytes -> {variable: 2-D
    array}``)."""

    def loader(spark: SparkSession, paths: list[str], **kwargs) -> DataFrame:
        names, (h, w) = _scene_grid(paths, kind, magic, read_header)
        schema = T.StructType(
            [T.StructField("y", T.IntegerType()), T.StructField("x", T.IntegerType())]
            + [T.StructField(n, T.DoubleType()) for n in names]
        )

        def decode(batches):
            import numpy as np
            import pyarrow as pa

            for batch in batches:
                for files in batch.column("paths").to_pylist():
                    planes = {}
                    for path in files:
                        with open(path, "rb") as fh:
                            planes.update(decode_planes(fh.read()))
                    yy, xx = np.divmod(np.arange(h * w, dtype="int32"), w)
                    cols = [yy, xx] + [np.asarray(planes[n], "float64").ravel() for n in names]
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(c) for c in cols], names=["y", "x", *names]
                    )

        # Arrow, not pandas: pandas -> Arrow would turn every NaN into NULL
        files = spark.createDataFrame([(list(paths),)], "paths array<string>")
        return files.mapInArrow(decode, schema=schema)

    loader.__name__ = f"_read_{kind}"
    return loader


def _image_reader(kind: str, magic: bytes, shape_of, decode):
    """A raster reader for an image format: gray -> one ``image``
    variable, multi-channel -> ``band_0..N``, named from the header
    shape ``shape_of`` reads. Broadcasting covers a colour-palette PNG
    whose used entries are all gray, which decodes to 2-D."""

    def names(shape):
        return ["image"] if len(shape) == 2 else [f"band_{i}" for i in range(shape[2])]

    def header(buf):
        shape = shape_of(buf)
        return dict.fromkeys(names(shape), shape[:2])

    def planes(data):
        import numpy as np

        shape = shape_of(data)
        full = np.broadcast_to(np.atleast_3d(decode(data)), shape[:2] + (len(names(shape)),))
        return dict(zip(names(shape), np.moveaxis(full, 2, 0)))

    return _raster_reader(kind, magic, header, planes)


READER_REGISTRY["netcdf"] = _raster_reader(
    "netcdf",
    b"CDF\x01",
    lambda buf: {n: shape for n, shape, _typ, _at in netcdf.read_netcdf_header(buf)[0]},
    lambda data: netcdf.decode_netcdf(data)[0],
)
READER_REGISTRY["cf"] = READER_REGISTRY["netcdf"]  # writer-name alias
READER_REGISTRY["png"] = _image_reader("png", b"\x89PNG", imagery.png_shape, imagery.decode_png)
READER_REGISTRY["simple_image"] = READER_REGISTRY["png"]
# page 0 is the full-resolution image; later pages are overview pyramid
# levels (NewSubfileType=1), not data
READER_REGISTRY["geotiff"] = _image_reader(
    "geotiff", b"II*\x00", imagery.geotiff_shape, lambda data: imagery.decode_geotiff(data)[0][0]
)


def create_scene(
    spark: SparkSession,
    filenames: list[str],
    reader: str = "parquet",
    reader_kwargs: dict | None = None,
) -> DataFrame:
    """Open the input files with the named reader -> scene DataFrame.

    Parity: ``create_scene`` (``plugins/__init__.py:86-99``): unknown
    reader or unreadable files raise :class:`SceneCreationError`, which
    the pipeline runner converts to an aborted job.
    """
    if not filenames:
        raise SceneCreationError("no input files in message")
    loader = READER_REGISTRY.get(reader)
    if loader is None:
        raise SceneCreationError(
            f"unknown reader {reader!r}; registered: {sorted(READER_REGISTRY)}"
        )
    try:
        return loader(spark, list(filenames), **(reader_kwargs or {}))
    except Exception as exc:  # noqa: BLE001 - any read failure aborts the job
        raise SceneCreationError(f"could not open {filenames}: {exc}") from exc
