"""The benchmark's workloads. Each takes the ``Harness``, runs set-up, a
closed-loop window of client operations and the output checks, and
returns its end-to-end metrics. Every call into the program sits inside a
``Tracer`` span named after the program layer it enters."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

import gen
from spans import LAYERS, PER_LAYER
from redcap_omop_etl_spark.operators.phi_filter import DATE_TRANSFORM_STATUSES
from redcap_omop_etl_spark.operators.redcap import EAV_COLUMNS, redcap_pipeline
from redcap_omop_etl_spark.sinks.chunked import write_jsonl
from redcap_omop_etl_spark.sources.readers import load_table
from redcap_omop_etl_spark.state import TERM_OP, StateCatalog, term_stats_bootstrap, term_stats_tick

UNITS = {
    "setup_s": "s",
    "first_op_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "read_back_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER_METRICS = [f"{layer}.{key}" for layer in LAYERS for key in PER_LAYER] + [
    "sources.rows_in", "sources.input_bytes",
    "operators.build_s", "operators.exec_s",
    "caching.tracked_frames", "caching.memo_entries",
    "state.version_bytes", "state.bytes_per_delta_byte", "state.load_s",
    "sinks.rows_written", "sinks.bytes_written", "sinks.bytes_per_input_byte",
    "tracing.overhead_share", "tracing.harness_s", "tracing.unattributed_s",
]


def layer_unit(name: str) -> str:
    key = name.split(".", 1)[1]
    if key.endswith("_s"):
        return "s"
    if key.endswith(("share", "byte")):
        return "ratio"
    if key.endswith("bytes") or key.startswith("bytes_"):
        return "bytes"
    return "count"


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _window(h, seconds: float, step, min_ops: int, warmup: int) -> list:
    """Closed loop: run ``step(i)`` back to back. The first ``warmup``
    operations are checked but their samples dropped; then the window
    opens and runs at least ``min_ops`` operations, until ``seconds`` have
    passed since it opened."""
    for i in range(warmup):
        h.op(step, i)
    samples = []
    t_open = time.perf_counter()
    i = warmup
    while True:
        r = h.op(step, i)
        i += 1
        if r is not None:
            samples.append(r)
        if i - warmup >= min_ops and time.perf_counter() - t_open >= seconds:
            return samples


# ---------------------------------------------------------------------------
# redcap_etl: extract -> de-identify -> PHI filter -> JSON-lines sink, one batch per op
# ---------------------------------------------------------------------------

ETL_RECORDS = 3_000
READS_PER_BATCH = 3
# Warm batch times fall by about a third over the first five batches while
# the JIT compiles the plans' generated code; timing only after that keeps
# the median from depending on how many batches fit in the window.
ETL_WARMUP = 3
STANDARD_DATE = "2030-01-01 00:00:00"
# strftime forms of the reference's four output granularities
GRANULARITY_FMT = {
    "TransformDate": "%Y-%m-%d",
    "TransformDateTime": "%Y-%m-%d %H:%M",
    "TransformDateTimeSeconds": "%Y-%m-%d %H:%M:%S",
    "TransformDateYear": "%Y",
}
JSON_COLUMNS = "{" + ", ".join(f"'{c}': 'VARCHAR'" for c in EAV_COLUMNS) + "}"


def _etl_expectation(con, records: str, field_map: str) -> int:
    """Builds the table ``expected`` in ``con``: the rows the PHI filter
    keeps, with date values dob-shifted and formatted, computed by DuckDB
    straight from the landing parquet with the reference's rules. Returns
    the error-channel size: date rows that cannot be shifted plus one row
    per field missing from the map."""
    dates = ", ".join(f"'{s}'" for s in DATE_TRANSFORM_STATUSES)
    fmt = " ".join(f"WHEN '{s}' THEN strftime(ts, '{f}')" for s, f in GRANULARITY_FMT.items())
    cols = ", ".join(f"e.{c}" for c in EAV_COLUMNS if c != "value")
    con.execute(f"""
    CREATE TABLE j AS
    WITH e AS (SELECT * FROM read_parquet('{records}')),
    fm AS (SELECT * FROM read_parquet('{field_map}')),
    anchor AS (
      SELECT record_id, min(TRY_CAST(value AS TIMESTAMP)) AS a
      FROM e WHERE field_name = '{gen.ANCHOR_FIELD}' GROUP BY record_id)
    SELECT {cols}, e.value,
           fm.field_name IS NOT NULL AS in_map, fm.status,
           fm.restrict_to_event_list AS events,
           TRY_CAST(e.value AS TIMESTAMP) IS NOT NULL AND anchor.a IS NOT NULL AS date_ok,
           make_timestamp(epoch_us(TRY_CAST(e.value AS TIMESTAMP))
                          + epoch_us(TIMESTAMP '{STANDARD_DATE}') - epoch_us(anchor.a)) AS ts,
           e.field_name = 'redcap_data_access_group' OR suffix(e.field_name, '_complete') AS always
    FROM e LEFT JOIN fm ON e.field_name = fm.field_name
           LEFT JOIN anchor ON e.record_id = anchor.record_id
    """)
    con.execute(f"""
    CREATE TABLE expected AS
    SELECT {", ".join(c if c != "value" else
                      f"CASE WHEN status IN ({dates}) THEN CASE status {fmt} END ELSE value END AS value"
                      for c in EAV_COLUMNS)}
    FROM j
    WHERE always OR (in_map AND (
        (status = 'Include' AND (events IS NULL OR list_contains(
            string_split(regexp_replace(events, '\\s+', '', 'g'), ','), redcap_event_name)))
        OR (status IN ({dates}) AND date_ok)))
    """)
    date_errors, missing = con.execute(f"""
    SELECT count(*) FILTER (WHERE status IN ({dates}) AND NOT date_ok),
           count(DISTINCT field_name) FILTER (WHERE NOT in_map AND NOT always)
    FROM j
    """).fetchone()
    con.execute("DROP TABLE j")
    return date_errors + missing


def _check_written(con, out: Path, n_expected: int) -> tuple[int, str | None]:
    """The JSON-lines the sink wrote hold exactly the expected rows, value
    for value. Returns the number of rows written and the first problem
    found, if any."""
    rel = f"read_json('{out}/part-*', format='newline_delimited', columns={JSON_COLUMNS})"
    n_rows = con.execute(f"SELECT count(*) FROM {rel}").fetchone()[0]
    missing, extra = con.execute(f"""
    SELECT (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM {rel})),
           (SELECT count(*) FROM (SELECT * FROM {rel} EXCEPT ALL SELECT * FROM expected))
    """).fetchone()
    if missing or extra:
        return n_rows, f"wrote {n_rows} rows: {missing} expected rows missing, {extra} unexpected"
    if n_rows != n_expected:
        return n_rows, f"wrote {n_rows} rows, expected {n_expected}"
    return n_rows, None


def redcap_etl(h) -> dict:
    args, tr = h.args, h.tracer
    d = h.work / "etl"
    records, field_map = d / "records.parquet", d / "field_map.parquet"
    sizes = {}
    input_bytes_read = 0

    def generate():
        tabs = gen.redcap_landing(args.seed, ETL_RECORDS)
        d.mkdir(parents=True, exist_ok=True)
        sizes["input_bytes"] = gen.write_parquet(tabs["records"], str(records))
        gen.write_parquet(tabs["field_map"], str(field_map))
        sizes["eav_rows"] = len(tabs["records"])

    setup_s = h.setup(generate)
    h.info["inputs"] = {"records": ETL_RECORDS, **sizes}
    calib = [h.calibrate()]
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    with tr.span("harness", "check"):
        n_errors_expected = _etl_expectation(con, str(records), str(field_map))
        n_kept_expected = con.execute("SELECT count(*) FROM expected").fetchone()[0]
    h.info["inputs"]["kept_rows"] = n_kept_expected

    def batch(i: int) -> tuple[tuple[float, list[float]], str | None]:
        nonlocal input_bytes_read
        spark = h.spark
        out = d / f"out{i}"
        t0 = time.perf_counter()
        with tr.span("sources", "read_parquet"):
            rec = spark.read.parquet(str(records))
            fm = spark.read.parquet(str(field_map))
        with tr.span("operators", "redcap_pipeline"):
            res = redcap_pipeline(rec, fm, strategy="dob_shifting", standard_date=STANDARD_DATE)
        with tr.span("sinks", "write_jsonl", action=True):
            write_jsonl(res.kept.select(*EAV_COLUMNS), str(out))
        with tr.span("operators", "count_errors", action=True):
            n_errors = res.errors.count()
        wall = time.perf_counter() - t0
        h.release()
        reads = []
        for _ in range(READS_PER_BATCH):
            t1 = time.perf_counter()
            with tr.span("sources", "read_back"):
                n_lines = spark.read.text(str(out)).count()
            reads.append(time.perf_counter() - t1)
        with tr.span("harness", "check"):
            n_rows, problem = _check_written(con, out, n_kept_expected)
            if n_errors != n_errors_expected:
                problem = f"error channel holds {n_errors} rows, expected {n_errors_expected}"
            if n_lines != n_rows:
                problem = f"read back {n_lines} lines, wrote {n_rows} rows"
            h.count("sinks.rows_written", n_rows)
            h.count("sinks.bytes_written", _dir_bytes(out))
            input_bytes_read += sizes["input_bytes"]
            shutil.rmtree(out)
        return (wall, reads), problem

    try:
        cold = h.op(batch, 0)
        warm = _window(h, args.seconds, lambda i: batch(i + 1), min_ops=3, warmup=ETL_WARMUP)
        peak_rss = h.peak_rss_mb()
    finally:
        con.close()
    calib.append(h.calibrate())
    h.info["calibration"] = calib
    if cold is None or not warm:
        raise RuntimeError("no batch completed")
    walls = [w for w, _ in warm]
    h.info["samples"] = {"first_op_s": cold[0], "op_s": walls, "read_back_s": [r for _, r in [cold] + warm]}
    # the cold batch's reads still warm the read path up, so only warm
    # batches' reads count
    warm_reads = [r for _, reads in warm for r in reads]
    h.layer["sinks.bytes_per_input_byte"] = h.layer["sinks.bytes_written"] / input_bytes_read
    op_p50 = statistics.median(walls)
    return {
        "setup_s": setup_s,
        "first_op_s": cold[0],
        "op_p50_s": op_p50,
        "rows_per_s": sizes["eav_rows"] / op_p50,
        "read_back_s": statistics.median(warm_reads),
        "peak_rss_mb": peak_rss,
    }


# ---------------------------------------------------------------------------
# index_ticks: takedown + ingest maintenance of on-disk term-stats state
# ---------------------------------------------------------------------------

INDEX_DOCS = 2_000
BOOTSTRAP_SHARE = 0.9
TICK_INGEST = 70
TAKEDOWN_SHARE = 0.01
READS_PER_TICK = 3
TICK_WARMUP = 2  # as ETL_WARMUP: tick times settle after the first few


def _terms(spark, catalog: StateCatalog, fp: str) -> set:
    terms = catalog.load(spark, TERM_OP, fp)["terms"]
    return {(r["term"], r["df"], r["cf"]) for r in terms.collect()}


def index_ticks(h) -> dict:
    args, tr = h.args, h.tracer
    d = h.work / "index"
    catalog = StateCatalog(str(d / "state"))
    corpus = {}

    def write_corpus(name: str, docs: pd.DataFrame) -> str:
        path = d / name
        path.mkdir(parents=True, exist_ok=True)
        gen.write_parquet(docs, str(path / "documents.parquet"))
        return str(path)

    def generate():
        docs = gen.documents(args.seed, INDEX_DOCS)
        n0 = int(len(docs) * BOOTSTRAP_SHARE)
        corpus["live"], corpus["held_out"] = docs.iloc[:n0], docs.iloc[n0:]
        corpus["dir"] = write_corpus("corpus0", corpus["live"])

    setup_s = h.setup(generate)
    t0 = time.perf_counter()
    with tr.span("sources", "load_table"):
        docs = load_table(h.spark, corpus["dir"], "documents")
    with tr.span("state", "term_stats_bootstrap"):
        fp, _ = term_stats_bootstrap(catalog, docs)
    h.release()
    bootstrap_s = time.perf_counter() - t0
    h.info["bootstrap_s"] = bootstrap_s
    h.info["inputs"] = {"docs": INDEX_DOCS, "bootstrap_docs": len(corpus["live"]),
                        "tick_ingest": TICK_INGEST, "takedown_share": TAKEDOWN_SHARE}
    calib = [h.calibrate()]
    deltas: list[int] = []
    delta_bytes = version_bytes = 0

    def version_dir() -> Path:
        return Path(catalog.dir(TERM_OP, fp, catalog.latest_version(h.spark, TERM_OP, fp)))

    def tick(k: int) -> tuple[tuple[float, list[float]], str | None]:
        nonlocal delta_bytes, version_bytes
        spark = h.spark
        with tr.span("harness", "generate"):
            takedown, ingest = gen.tick_batch(
                args.seed, k, corpus["live"], corpus["held_out"], TICK_INGEST, TAKEDOWN_SHARE)
            tdir = d / f"tick{k}"
            tdir.mkdir(parents=True)
            delta_bytes += gen.write_parquet(ingest, str(tdir / "ingest.parquet"))
            delta_bytes += gen.write_parquet(
                pd.DataFrame({"doc_id": takedown}), str(tdir / "takedown.parquet"))
        deltas.append(len(takedown) + len(ingest))
        t0 = time.perf_counter()
        with tr.span("sources", "load_table"):
            live = load_table(spark, corpus["dir"], "documents")
            add = spark.read.parquet(str(tdir / "ingest.parquet"))
            dele = spark.read.parquet(str(tdir / "takedown.parquet"))
        with tr.span("state", "term_stats_tick"):
            version = term_stats_tick(catalog, fp, live, append_docs=add, delete_ids=dele)
        tick_s = time.perf_counter() - t0
        h.release()
        with tr.span("harness", "check"):
            version_bytes += _dir_bytes(version_dir())
            committed = catalog.manifest(spark, TERM_OP, fp, version)["row_counts"]["terms"]
        problem = None
        reads = []
        for _ in range(READS_PER_TICK):
            t1 = time.perf_counter()
            with tr.span("state", "load"):
                frames = catalog.load(spark, TERM_OP, fp)
            with tr.span("state", "read"):
                n = frames["terms"].count()
            reads.append(time.perf_counter() - t1)
            if n != committed:
                problem = f"read {n} terms, committed {committed}"
        with tr.span("harness", "generate"):
            live_df = corpus["live"]
            corpus["live"] = pd.concat(
                [live_df[~live_df["doc_id"].isin(takedown)], ingest], ignore_index=True)
            corpus["dir"] = write_corpus(f"corpus{k + 1}", corpus["live"])
        return (tick_s, reads), problem

    cold = h.op(tick, 0)
    warm = _window(h, args.seconds, lambda i: tick(i + 1), min_ops=3, warmup=TICK_WARMUP)
    # before the from-scratch rebuild below, which is the check's memory,
    # not the program's
    peak_rss = h.peak_rss_mb()
    with tr.span("harness", "check"):
        final = load_table(h.spark, corpus["dir"], "documents")
        scratch = StateCatalog(str(d / "rebuild"))
        fp2, _ = term_stats_bootstrap(scratch, final)
        ok = _terms(h.spark, catalog, fp) == _terms(h.spark, scratch, fp2)
        ok = ok and catalog.latest_version(h.spark, TERM_OP, fp) == 1 + h.attempted
        if not ok:
            print("perfbench: wrong output: tick state differs from a from-scratch rebuild",
                  file=sys.stderr)
            h.failed = h.attempted
        h.release()
    calib.append(h.calibrate())
    h.info["calibration"] = calib
    if cold is None or not warm:
        raise RuntimeError("no tick completed")
    ticks = [t for t, _ in warm]
    reads = [r for _, rs in warm for r in rs]
    h.info["samples"] = {"first_op_s": cold[0], "op_s": ticks, "read_back_s": reads}
    h.layer["state.version_bytes"] = _dir_bytes(version_dir())
    h.layer["state.bytes_per_delta_byte"] = version_bytes / delta_bytes
    h.layer["state.load_s"] = sum(
        sp.wall for sp in tr.spans if sp.layer == "state" and sp.name == "load")
    op_p50 = statistics.median(ticks)
    return {
        "setup_s": setup_s + bootstrap_s,
        "first_op_s": cold[0],
        "op_p50_s": op_p50,
        "rows_per_s": statistics.median(deltas) / op_p50,
        "read_back_s": statistics.median(reads),
        "peak_rss_mb": peak_rss,
    }


WORKLOADS = {"redcap_etl": redcap_etl, "index_ticks": index_ticks}
