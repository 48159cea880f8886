"""File-granularity validation (SURVEY.md §2.5 V1-V3).

Reproduces the reference's validator semantics
(/root/reference/dags/src/validator.py:37-99) Spark-first:

- CSV (V1): parse a 1000-row sample; required-column check on normalized
  names; the first 50 non-null ``sale_date`` values must ALL parse
  (pandas ``errors="raise"`` parity — one bad date fails the file).
- JSON (V2): each of the first 100 records must contain every required
  key. Spark's schema union can't distinguish missing-key from null, so
  the check reads lines as text and uses ``json_object_keys`` — still
  JVM-side, still a bounded sample.
- Parquet (V3): required-column check against the file footer schema —
  metadata-only, zero data read.

Verdicts are (valid: bool, error: str) per file, the unit the quarantine
router consumes. Sampling keeps validation O(1) per file no matter the
file size — at 100 TB the validator cost is bounded by file count.
:func:`validate_files` judges many files at once: small CSVs and ndjson
files share one probe job per group, each group scanned through its
hardlink staging dir (sources/scanstage.py), so a row's file is its
link's list index, whatever the file is called.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F

from mini_data_platform_spark.registry import SALES_SPEC, TableSpec
from mini_data_platform_spark.schema import SALES_COLUMNS
from mini_data_platform_spark.sources import readers, scanstage
from mini_data_platform_spark.sources.formats import detect_format_path

REQUIRED_COLUMNS = frozenset(SALES_COLUMNS)

CSV_SAMPLE_ROWS = 1000
DATE_SAMPLE_ROWS = 50
JSON_SAMPLE_RECORDS = 100

#: lenient timestamp probe: ISO timestamp, or bare date (pandas
#: ``to_datetime`` accepts both; ANSI-off try_* returns null, never raises)
def _parseable_ts(col):
    return F.coalesce(
        F.try_to_timestamp(col), F.to_date(col).cast("timestamp")
    )


def _missing(cols: list[str], spec: TableSpec) -> list[str]:
    have = {c.strip().lower() for c in cols}
    return sorted(spec.required - have)


def _local_csv_header_columns(path: str) -> list[str] | None:
    """Driver-side CSV header parse — the one used by validation (column
    check, header groups) and by the runner (read signature, explicit
    all-string schema). At 10k files the validator's cost is pure Spark
    JOB COUNT (round-14: ~2 tiny jobs/file); the header check and the
    sample read's schema inference are both satisfiable from the first
    line read locally. Returns ``None`` whenever the header cannot be
    trusted locally — remote path, compressed or empty file, quoted
    multi-line header, an empty name (Spark substitutes ``_cN``),
    duplicate normalized names — and the caller falls back to Spark's
    own header read, whose semantics this path must exactly
    reproduce."""
    import csv as _csv
    import io

    from mini_data_platform_spark.sources.formats import is_compressed_path

    # Spark decompresses .csv.gz & friends transparently; a raw byte
    # read sees the codec stream, which can slip past the guards below
    # and produce a false missing-columns quarantine — let Spark read it
    if is_compressed_path(path):
        return None
    try:
        with open(path, "rb") as fh:
            raw = fh.readline(1 << 20)
    except OSError:
        return None
    if not raw:
        return None
    text = raw.decode("utf-8", errors="replace").rstrip("\r\n")
    # an odd quote count means the header row continues past the first
    # physical line (embedded newline in a quoted name) — Spark's
    # parser handles that; this fast path must not guess
    if not text or text.count('"') % 2:
        return None
    try:
        row = next(_csv.reader(io.StringIO(text)))
    except (StopIteration, _csv.Error):
        return None
    if (
        not row
        or not all(row)
        or len({c.strip().lower() for c in row}) != len(row)
    ):
        return None  # empty or duplicate-name header: let Spark decide
    return row


def validate_csv(
    spark: SparkSession, path: str, spec: TableSpec = SALES_SPEC
) -> tuple[bool, str]:
    local_cols = _local_csv_header_columns(path)
    try:
        if local_cols is not None:
            cols = local_cols
            missing = _missing(cols, spec)
            if missing:
                return False, f"Missing required columns: {missing}"
            # explicit all-string schema from the locally-parsed header:
            # same frame read_csv produces, minus the inference job
            from pyspark.sql import types as T

            schema = T.StructType(
                [
                    T.StructField(c.strip().lower(), T.StringType())
                    for c in cols
                ]
            )
            sample = (
                spark.read.schema(schema)
                .option("header", True)
                .option("mode", "PERMISSIVE")
                .csv(path)
                .limit(CSV_SAMPLE_ROWS)
            )
            cols = sample.columns
        else:
            sample = readers.read_csv(spark, path).limit(CSV_SAMPLE_ROWS)
            cols = sample.columns
    except Exception as e:  # noqa: BLE001 — any parse failure quarantines the file
        return False, f"CSV parse error: {e}"
    missing = _missing(cols, spec)
    if missing:
        return False, f"Missing required columns: {missing}"
    # the reference's date probe (first 50 non-null must ALL parse),
    # applied to every timestamp column the spec declares
    lower = {c.strip().lower(): c for c in cols}
    for ts_col in spec.timestamp_columns:
        probe = lower.get(ts_col)
        if probe is None:
            continue
        bad = (
            sample.select(F.col(probe))
            .limit(DATE_SAMPLE_ROWS)
            .where(
                F.col(probe).isNotNull()
                & _parseable_ts(F.col(probe)).isNull()
            )
            .count()
        )
        if bad:
            return (
                False,
                f"{ts_col} parse issue: {bad} unparseable in first "
                f"{DATE_SAMPLE_ROWS}",
            )
    return True, ""


#: files at or under this size take the BATCHED date probe (one job per
#: header group scans them whole — cheaper than one driver-built probe
#: job per file); bigger files keep the per-file sampled probe so
#: validation stays O(1) data per file no matter the file size.
CSV_BATCH_MAX_BYTES = 8 << 20


def _collect_staged(paths: list[str], build) -> list:
    """Hardlink-stage ``paths`` (sources/scanstage.py), collect the rows
    of ``build(scan)`` — ``scan`` reads the link dir and carries each
    row's list index in ``_f`` — and remove the links. Raises
    ``OSError`` when the group cannot be staged; the caller then
    validates its files one by one."""
    link_dir = scanstage.stage_link_dir(paths)
    if link_dir is None:
        raise OSError("group could not be hardlink-staged")
    try:
        return build(link_dir).collect()
    finally:
        scanstage.cleanup_dirs([link_dir])


def _csv_group_date_probe(
    spark: SparkSession, cols: list[str], paths: list[str], spec: TableSpec
) -> dict[str, tuple[bool, str]]:
    """The per-file date probe for a HEADER GROUP of small CSVs in ONE
    Spark job: scan the group's link dir (explicit all-string schema —
    no inference), rank rows per file (monotonic ids are in read order
    within a file), and count unparseable non-null values among each
    file's first ``DATE_SAMPLE_ROWS`` rows per timestamp column — the
    identical verdict rule, message included, as :func:`validate_csv`'s
    loop."""
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    lower = {c.strip().lower() for c in cols}
    ts_cols = [t for t in spec.timestamp_columns if t in lower]
    if not ts_cols:
        return {p: (True, "") for p in paths}
    # programmatic schema, not hand-assembled DDL: header names are
    # arbitrary user bytes (backticks included) and StructType needs no
    # quoting — same construction validate_csv's fast path uses
    schema = T.StructType(
        [T.StructField(c.strip().lower(), T.StringType()) for c in cols]
    )

    def build(link_dir):
        df = (
            spark.read.schema(schema)
            .option("header", True)
            .option("mode", "PERMISSIVE")
            .csv(link_dir)
            .select(
                scanstage.link_id().alias("_f"),
                F.monotonically_increasing_id().alias("_i"),
                *[F.col(t) for t in ts_cols],
            )
        )
        ranked = df.withColumn(
            "_r", F.row_number().over(Window.partitionBy("_f").orderBy("_i"))
        ).where(F.col("_r") <= DATE_SAMPLE_ROWS)
        return ranked.groupBy("_f").agg(
            *[
                F.count_if(
                    F.col(t).isNotNull() & _parseable_ts(F.col(t)).isNull()
                ).alias(t)
                for t in ts_cols
            ]
        )

    out: dict[str, tuple[bool, str]] = {p: (True, "") for p in paths}
    for row in _collect_staged(paths, build):
        for t in ts_cols:  # first failing column wins, like the loop
            bad = int(row[t])
            if bad:
                out[paths[row["_f"]]] = (
                    False,
                    f"{t} parse issue: {bad} unparseable in first "
                    f"{DATE_SAMPLE_ROWS}",
                )
                break
    return out


def _ndjson_group_probe(
    spark: SparkSession, paths: list[str], spec: TableSpec
) -> dict[str, tuple[bool, str]]:
    """:func:`validate_json`'s required-key check for a GROUP of small
    ndjson files in ONE Spark job: the same probe pipeline (first
    ``JSON_SAMPLE_RECORDS`` non-empty lines, wrapper strip,
    ``json_object_keys`` vs the spec's required set), applied per file
    via a row_number window over monotonic ids, with each file's
    EARLIEST bad record (min ``_i``) supplying the message — the
    deterministic form of the per-file path's ``.first()``."""
    from pyspark.sql.window import Window

    def build(link_dir):
        lines = (
            spark.read.text(link_dir)
            .select(
                scanstage.link_id().alias("_f"),
                F.monotonically_increasing_id().alias("_i"),
                "value",
            )
            .where(F.trim("value") != "")
        )
        ranked = lines.withColumn(
            "_r", F.row_number().over(Window.partitionBy("_f").orderBy("_i"))
        ).where(F.col("_r") <= JSON_SAMPLE_RECORDS)
        obj = F.regexp_replace(F.trim("value"), r"^[\[,]+|[\],]+$", "")
        keyed = ranked.select("_f", "_i", obj.alias("obj")).where(
            F.col("obj") != ""
        )
        required = F.array(*[F.lit(c) for c in sorted(spec.required)])
        bad = keyed.select(
            "_f",
            "_i",
            F.array_except(
                required,
                F.transform(
                    F.coalesce(
                        F.json_object_keys("obj"),
                        F.array().cast("array<string>"),
                    ),
                    F.lower,
                ),
            ).alias("missing"),
        ).where(F.size("missing") > 0)
        return bad.groupBy("_f").agg(
            F.min_by("missing", F.col("_i")).alias("missing")
        )

    out = {p: (True, "") for p in paths}
    for row in _collect_staged(paths, build):
        out[paths[row["_f"]]] = (
            False, f"Missing columns: {sorted(row['missing'])}",
        )
    return out


def validate_files(
    spark: SparkSession,
    paths: list[str],
    spec: TableSpec = SALES_SPEC,
    max_workers: int = 16,
) -> list[tuple[bool, str]]:
    """Per-file verdicts for MANY files, returned in input order — the
    file-count-scale validation entry point (round-13 verdict item 5:
    at 10k files the per-file validator loop is pure driver job count,
    measured ~24 ms/file even 16-wide because the py4j plan builds
    serialize on the GIL). Small local files (≤ CSV_BATCH_MAX_BYTES)
    batch their Spark work per group: CSVs whose header parses
    driver-side get their column check WITHOUT Spark and share ONE
    date-probe job per header group; ndjson files share ONE
    required-key job. Each group probe scans the group's hardlink
    staging dir (sources/scanstage.py), which names every file by its
    list index, so any file name works. Everything else — large files,
    remote paths, array JSON, parquet, ORC, groups that cannot be
    staged — takes the unchanged per-file :func:`validate_file` through
    the thread pool. Verdicts are byte-identical to the per-file path
    (equivalence is pinned in tests/test_sources.py)."""
    from concurrent.futures import ThreadPoolExecutor

    from mini_data_platform_spark.sources.formats import (
        sniff_json_layout_path,
    )

    batched: dict[tuple[str, ...], list[str]] = {}  # csv header -> paths
    nd_group: list[str] = []
    verdicts: dict[str, tuple[bool, str]] = {}
    fallback: list[str] = []
    for p in paths:
        try:
            fmt = detect_format_path(p)
            small = os.path.getsize(p) <= CSV_BATCH_MAX_BYTES
        except Exception:  # noqa: BLE001 — unreadable: per-file decides
            fmt, small = None, False
        if fmt == "csv" and small:
            cols = _local_csv_header_columns(p)
            if cols is not None:
                missing = _missing(cols, spec)
                if missing:
                    verdicts[p] = (
                        False, f"Missing required columns: {missing}",
                    )
                else:
                    batched.setdefault(tuple(cols), []).append(p)
                continue
        elif fmt == "json" and small and sniff_json_layout_path(p) == "ndjson":
            nd_group.append(p)
            continue
        fallback.append(p)
    for cols, group in batched.items():
        try:
            verdicts.update(
                _csv_group_date_probe(spark, list(cols), group, spec)
            )
        except Exception:  # noqa: BLE001 — group read failed: per-file
            # (unstageable group, file deleted between listing and
            # probe, unrepresentable header, ...): the per-file path
            # converts the failure into a single-file verdict instead
            # of aborting the whole batch
            fallback.extend(group)
    if nd_group:
        try:
            verdicts.update(_ndjson_group_probe(spark, nd_group, spec))
        except Exception:  # noqa: BLE001 — group read failed: per-file
            fallback.extend(nd_group)
    if fallback:
        with ThreadPoolExecutor(
            max_workers=min(max_workers, len(fallback))
        ) as pool:
            for p, v in zip(
                fallback,
                pool.map(lambda q: validate_file(spark, q, spec=spec),
                         fallback),
            ):
                verdicts[p] = v
    return [verdicts[p] for p in paths]


def validate_json(
    spark: SparkSession, path: str, spec: TableSpec = SALES_SPEC
) -> tuple[bool, str]:
    try:
        lines = (
            spark.read.text(path)
            .where(F.trim("value") != "")
            .limit(JSON_SAMPLE_RECORDS)
        )
        # strip array wrappers/commas so both ndjson and pretty arrays probe
        # as objects; json_object_keys -> null for anything unparseable
        obj = F.regexp_replace(F.trim("value"), r"^[\[,]+|[\],]+$", "")
        keyed = lines.select(obj.alias("obj")).where(F.col("obj") != "")
        rec = keyed.select(
            F.transform(
                F.coalesce(
                    F.json_object_keys("obj"), F.array().cast("array<string>")
                ),
                F.lower,
            ).alias("keys")
        )
        required = F.array(*[F.lit(c) for c in sorted(spec.required)])
        bad = rec.where(F.size(F.array_except(required, F.col("keys"))) > 0)
        first_bad = bad.select(
            F.array_except(required, F.col("keys")).alias("missing")
        ).first()
    except Exception as e:  # noqa: BLE001
        return False, f"JSON parse error: {e}"
    if first_bad is not None:
        return False, f"Missing columns: {sorted(first_bad['missing'])}"
    return True, ""


def validate_parquet(
    spark: SparkSession, path: str, spec: TableSpec = SALES_SPEC
) -> tuple[bool, str]:
    # local single-file fast path: read the footer driver-side via
    # pyarrow — no py4j round trip, no Spark job (the r14 file-count
    # doctrine: validator cost is bounded by file count, so each file
    # should cost microseconds, not a driver-side plan analysis).
    # Directories (multi-file datasets) and remote paths fall through
    # to the Spark read, which handles both.
    if os.path.isfile(path):
        try:
            import pyarrow.parquet as _pq

            names = _pq.read_schema(path).names
        except Exception as e:  # noqa: BLE001 — unreadable footer
            return False, f"Parquet parse error: {e}"
        missing = _missing(list(names), spec)
        if missing:
            return False, f"Missing required columns: {missing}"
        return True, ""
    try:
        schema = spark.read.parquet(path).schema  # footer only — no data IO
    except Exception as e:  # noqa: BLE001
        return False, f"Parquet parse error: {e}"
    missing = _missing(schema.fieldNames(), spec)
    if missing:
        return False, f"Missing required columns: {missing}"
    return True, ""


def validate_orc(
    spark: SparkSession, path: str, spec: TableSpec = SALES_SPEC
) -> tuple[bool, str]:
    try:
        schema = spark.read.orc(path).schema  # metadata only — no data IO
    except Exception as e:  # noqa: BLE001
        return False, f"ORC parse error: {e}"
    missing = _missing(schema.fieldNames(), spec)
    if missing:
        return False, f"Missing required columns: {missing}"
    return True, ""


def validate_file(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    spec: TableSpec = SALES_SPEC,
) -> tuple[bool, str]:
    """Dispatch on detected format (reference validate_file task,
    /root/reference/dags/process_sales_dags.py:117-141). ``spec``
    selects the registered table contract to validate against
    (registry.REGISTRY; default: the reference's sales table)."""
    fmt = fmt or detect_format_path(path)
    if fmt == "csv":
        return validate_csv(spark, path, spec)
    if fmt == "json":
        return validate_json(spark, path, spec)
    if fmt == "parquet":
        return validate_parquet(spark, path, spec)
    if fmt == "orc":
        return validate_orc(spark, path, spec)
    return False, f"Unsupported format: {fmt}"
