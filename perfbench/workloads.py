"""The benchmark's workloads.

Each workload records why it exists (``why``) next to its definition.
A workload generates its seeded inputs, prepares its fixtures on a fresh
Spark session (repeated by the runner so set-up time is a median), runs
its requests in closed-loop cycles (a warm-up, then the measured window),
and checks every output.

The ingest workload has one client (a batch ingest is one caller
waiting for its batch). The read workload is a closed loop of several
clients: each issues its next query when its previous one returns.
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks, gen
from perfbench.trace import Tracer


@dataclass(frozen=True)
class Sizes:
    preload: int
    files: int
    rows: int
    star_scale: float
    docs: int
    vectors: int


FULL = Sizes(preload=100_000, files=88, rows=80, star_scale=0.2, docs=400, vectors=400)
#: the tiny mode the benchmark's own tests run
TINY = Sizes(preload=2_000, files=10, rows=40, star_scale=0.01, docs=120, vectors=80)


def sizes(tiny: bool) -> Sizes:
    return TINY if tiny else FULL


@dataclass
class Req:
    kind: str
    start: float  # time.time()
    lat: float  # seconds
    traced: bool
    ok: bool = True
    span: int | None = None
    info: dict = field(default_factory=dict)


@dataclass
class Ctx:
    root: str
    work: str
    seed: int
    sizes: Sizes
    spark: object = None
    #: switched on only in traced runs, so untraced requests record nothing
    tracer: Tracer = field(default_factory=Tracer)
    problems: list = field(default_factory=list)
    state: dict = field(default_factory=dict)

    @property
    def data(self) -> str:
        return os.path.join(self.work, "inputs")


def _fresh(*dirs: str) -> None:
    for d in dirs:
        if os.path.isdir(d):
            shutil.rmtree(d)
        elif os.path.exists(d):
            os.remove(d)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def csv_bytes(df) -> int:
    """Bytes of the rows written as plain CSV: the user-data size the
    storage metrics are relative to."""
    return len(df.to_csv(index=False, header=False, date_format="%Y-%m-%d %H:%M:%S"))


def _measure_loop(seconds: float, trace: bool, clients: int, one_request):
    """Closed loop over whole cycles: each client runs ``one_request``
    until the window has passed and it has finished its current cycle
    (so every query appears equally often), at least one cycle. A traced
    run traces cycles in the order off, on, on, off, ... so warm-up drift
    cancels when the tracing overhead is measured inside the run."""
    reqs: list[Req] = []
    lock = threading.Lock()
    errors: list[BaseException] = []
    t_end = time.time() + seconds

    def client(c: int) -> None:
        try:
            cycle = 0
            while cycle == 0 or time.time() < t_end or (trace and cycle < 2):
                traced = trace and cycle % 4 in (1, 2)
                for r in one_request(c, cycle, traced):
                    with lock:
                        reqs.append(r)
                cycle += 1
        except BaseException as e:  # noqa: BLE001 — re-raised by the caller
            errors.append(e)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return reqs


# ------------------------------------------------------------------ ingest


class IngestTrickle:
    """Batches of small files into a preloaded parquet table through
    ``runner.run_batch_ingest`` with the ``upsert_parquet`` sink and a
    sqlite ``AuditLog``; every batch is checked against the generator's
    expectation (table contents, quarantine prefixes, audit rows)."""

    name = "ingest_trickle"
    why = (
        "File-count and merge regime: 88 small files a batch (64+ in one staged CSV group), "
        "30% updates, into a 100k-row table; validation, runner driver work and the merge each ~1 s."
    )
    clients = 1
    #: untimed batches after the first, before the measured window: the
    #: driver-side planning of ~30 small jobs per batch is still being
    #: JIT-compiled over the first batches (measured: 4.4-5.2 s for the
    #: second batch, 3.0-3.5 s from the sixth on, still drifting down)
    warm_cycles = 4

    def lake(self, ctx: Ctx) -> dict:
        base = os.path.join(ctx.work, "lake")
        return {
            "incoming": os.path.join(base, "incoming"),
            "processed": os.path.join(base, "processed"),
            "failed": os.path.join(base, "failed"),
            "target": os.path.join(base, "sales"),
            "audit": os.path.join(base, "audit.db"),
        }

    def generate(self, ctx: Ctx) -> None:
        ctx.state["preload"] = gen.preload_table(
            ctx.seed, os.path.join(ctx.data, "preload.parquet"), ctx.sizes.preload
        )

    def sink(self, ctx: Ctx, target: str):
        from mini_data_platform_spark.sinks.upsert import upsert_parquet

        def sink(df):
            with ctx.tracer.span("sinks.upsert"):
                return upsert_parquet(ctx.spark, df, target, ["sale_id"])

        return sink

    def setup(self, ctx: Ctx) -> None:
        """Empty lake, the preloaded table copied into place, a fresh
        audit log."""
        from mini_data_platform_spark.sinks.audit import AuditLog
        from mini_data_platform_spark.sinks.upsert import sqlite_conn_factory

        lk = self.lake(ctx)
        _fresh(*lk.values())
        os.makedirs(lk["incoming"])
        os.makedirs(lk["target"])
        shutil.copy(os.path.join(ctx.data, "preload.parquet"),
                    os.path.join(lk["target"], "part-00000.parquet"))
        ctx.state["sink"] = self.sink(ctx, lk["target"])
        ctx.state["audit_log"] = AuditLog(functools.partial(sqlite_conn_factory, lk["audit"]))
        n = ctx.sizes.preload
        ctx.state["keys"] = gen.TrickleState(np.arange(n, dtype=np.int64), n)
        ctx.state["expected"] = ctx.state["preload"]
        ctx.state["next"] = 0

    def batch(self, ctx: Ctx, index: int, traced: bool) -> Req:
        from mini_data_platform_spark import runner

        lk = self.lake(ctx)
        batch = gen.trickle_batch(
            ctx.seed, index, lk["incoming"], ctx.state["keys"],
            files=ctx.sizes.files, rows=ctx.sizes.rows,
        )
        survivors = batch.survivors()
        expected = ctx.state["expected"] = gen.apply_upsert(ctx.state["expected"], survivors)
        start = time.time()
        with ctx.tracer.request("runner.batch", traced) as sp:
            t0 = time.perf_counter()
            try:
                report = runner.run_batch_ingest(
                    ctx.spark, lk["incoming"], lk["processed"], lk["failed"],
                    sink=ctx.state["sink"], audit=ctx.state["audit_log"],
                )
                error = None
            except Exception as e:  # noqa: BLE001 — a failed request, the run goes on
                report, error = None, f"{type(e).__name__}: {e}"
            lat = time.perf_counter() - t0
        if error:
            problems = [error]
        else:
            problems = checks.compare_table(checks.read_target(lk["target"]), expected)
            problems += checks.check_routing(batch, lk["incoming"], lk["processed"], lk["failed"])
            problems += checks.check_audit(batch, lk["incoming"], lk["audit"])
        req = Req(
            "batch", start, lat, traced, ok=not problems,
            span=sp.id if sp else None,
            info={
                "files": len(batch.files),
                "rows_in": sum(o.rows or 0 for o in report.loaded) if report else 0,
                "rows_out": report.rows_upserted if report else 0,
            },
        )
        if traced:
            req.info["survivor_csv_bytes"] = csv_bytes(survivors)
        if problems:
            ctx.problems.append(f"{self.name} batch {index}: " + "; ".join(problems[:3]))
        return req

    def measure(self, ctx: Ctx, seconds: float, trace: bool) -> list[Req]:
        def one(c, cycle, traced):
            i = ctx.state["next"]
            ctx.state["next"] += 1
            return [self.batch(ctx, i, traced)]

        return _measure_loop(seconds, trace, 1, one)

    def trace_install(self, ctx: Ctx) -> None:
        from mini_data_platform_spark import runner
        from mini_data_platform_spark.sinks.audit import AuditLog
        from mini_data_platform_spark.sources import scanstage, validate

        tracer = ctx.tracer
        tracer.wrap(validate, "validate_files", "sources.validate",
                    counts=lambda a, k, r: {"files": len(a[1])})
        # called by validation's group probes and the runner's group
        # reads; it links a group's files into one directory or declines
        tracer.wrap(scanstage, "stage_link_dir", "sources.scanstage",
                    counts=lambda a, k, r: {"staged": len(a[0]) if r else 0})
        tracer.wrap(runner, "move_object", "sinks.objects")
        tracer.wrap(AuditLog, "log_file_status", "sinks.audit")

    def finish(self, ctx: Ctx, reqs: list[Req]) -> None:
        return None

    def final_state(self, ctx: Ctx) -> dict:
        """Storage of the table as it stands: bytes on disk per CSV byte
        of its live rows."""
        return {
            "stored_bytes_per_input_byte": dir_bytes(self.lake(ctx)["target"])
            / max(1, csv_bytes(ctx.state["expected"])),
        }


# -------------------------------------------------------------------- read

#: query -> (plans module, fact/dimension tables it reads)
KPI_QUERIES = {
    "kpi_revenue_by_day": ("kpi", ("orders",)),
    "kpi_top_customers": ("kpi", ("orders", "customer")),
    "kpi_product_performance": ("kpi", ("lineitem", "part")),
    "kpi_rolling_7d_revenue": ("kpi", ("orders",)),
    "kpi_failed_events_trend": ("kpi", ("events",)),
    "kpi_revenue_by_customer": ("kpi", ("orders",)),
}
LLM_QUERIES = {
    "doc_exact_dedup": ("llm", ("documents",)),
    "doc_near_dups": ("llm", ("documents",)),
    "emb_near_dups_lsh": ("llm", ("embeddings",)),
    "emb_knn": ("llm", ("embeddings",)),
    "emb_ann_ivf": ("llm", ("embeddings",)),
}


class AnalyticsMix:
    """Closed-loop query clients on one shared session: two dashboard
    clients cycle through the six KPI queries, one pipeline client through
    the five LLM-data queries, each in a seeded order per cycle. Every
    distinct query result is checked once against its DuckDB oracle."""

    name = "analytics_mix"
    why = (
        "Read-only: 2 KPI dashboard clients plus 1 LLM dedup/vector-search client "
        "on one session; planning, catalog and the LLM operators, no ingest layer."
    )
    #: client -> the queries it cycles through
    client_queries = (KPI_QUERIES, KPI_QUERIES, LLM_QUERIES)
    clients = len(client_queries)
    #: untimed query cycles after the first, before the measured window
    warm_cycles = 0

    def sf(self, ctx: Ctx) -> str:
        return os.path.join(ctx.data, "sf")

    def queries(self) -> dict:
        return {**KPI_QUERIES, **LLM_QUERIES}

    def tables(self) -> tuple[str, ...]:
        return tuple(sorted({t for _m, ts in self.queries().values() for t in ts}))

    def generate(self, ctx: Ctx) -> None:
        sz = ctx.sizes
        gen.star_tables(ctx.seed, self.sf(ctx), sz.star_scale, self.tables())
        gen.corpus_tables(ctx.seed, self.sf(ctx), sz.docs, sz.vectors)
        ctx.state["results"] = {}

    def oracles(self, ctx: Ctx) -> dict:
        """DuckDB answers of every query, or the error that prevented them."""
        import duckdb

        sf = self.sf(ctx)
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf
        import __spark_entry__
        from mini_data_platform_spark.catalog import TABLES

        answers = {}
        try:
            sql = __spark_entry__.oracle_sql()
            con = duckdb.connect()
            try:
                # the measured window is over: every core is the oracle's
                con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
                for t in TABLES:
                    p = os.path.join(sf, f"{t}.parquet")
                    if os.path.exists(p):
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
                for name in self.queries():
                    answers[name] = checks.oracle_answer(con, name, sql.get(name))
            finally:
                con.close()
        except Exception as e:  # noqa: BLE001 — reported as a failed check
            answers = {name: ([], [], f"oracle set-up failed: {e}") for name in self.queries()}
        return answers

    def _fns(self) -> dict:
        import importlib

        out = {}
        for q, (m, _ts) in self.queries().items():
            out[q] = importlib.import_module(f"mini_data_platform_spark.plans.{m}").QUERIES[q]
        return out

    def setup(self, ctx: Ctx) -> None:
        """Fixture warm-up: page cache and the catalog's table loads, with
        query scratch caches left by earlier sessions removed."""
        import glob

        from mini_data_platform_spark import catalog

        for d in glob.glob(os.path.join(tempfile.gettempdir(), "mdp_*")):
            shutil.rmtree(d, ignore_errors=True)
        sf = self.sf(ctx)
        for t in self.tables():
            with open(os.path.join(sf, f"{t}.parquet"), "rb") as fh:
                while fh.read(1 << 22):
                    pass
            catalog.load_table(ctx.spark, sf, t)

    def request(self, ctx: Ctx, name: str, fn, traced: bool) -> Req:
        """Build the query's plan and collect its rows; the first result
        of each query is kept for the oracle check."""
        layer = f"plans.{self.queries()[name][0]}"
        start = time.time()
        rows, error = [], None
        with ctx.tracer.request(f"{layer}.request", traced, query=name) as sp:
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span(f"{layer}.build"):
                    df = fn(ctx.spark, self.sf(ctx))
                with ctx.tracer.span(f"{layer}.exec"):
                    rows = df.collect()
            except Exception as e:  # noqa: BLE001 — a failed request, the run goes on
                error = f"{name}: {type(e).__name__}: {e}"
            lat = time.perf_counter() - t0
        if error:
            ctx.problems.append(f"{self.name}: {error}")
        else:
            ctx.state["results"].setdefault(name, (df.columns, rows))
        return Req(name, start, lat, traced, ok=error is None,
                   span=sp.id if sp else None, info={"rows": len(rows)})

    def measure(self, ctx: Ctx, seconds: float, trace: bool) -> list[Req]:
        fns = self._fns()

        def one(c, cycle, traced):
            names = list(self.client_queries[c])
            rng = np.random.default_rng([ctx.seed, 10 + c, cycle])
            return [self.request(ctx, names[i], fns[names[i]], traced)
                    for i in rng.permutation(len(names))]

        return _measure_loop(seconds, trace, self.clients, one)

    def trace_install(self, ctx: Ctx) -> None:
        import sys

        from mini_data_platform_spark import catalog

        # the plans the catalog already holds: a later call returning one
        # of these objects is a cache hit
        sf = self.sf(ctx)
        ctx.state["catalog_held"] = {
            (t, id(catalog.load_table(ctx.spark, sf, t))) for t in self.tables()
        }
        orig = catalog.load_table
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("mini_data_platform_spark")
                    and getattr(mod, "load_table", None) is orig):
                ctx.tracer.wrap(mod, "load_table", "catalog.load_table",
                                counts=lambda a, k, r: {"table": a[2], "obj": id(r)})

    def finish(self, ctx: Ctx, reqs: list[Req]) -> None:
        """Check each distinct query once against its oracle, computed
        now that the measured window is over; a mismatch fails every
        request of that query."""
        oracle = self.oracles(ctx)
        vl = checks.load_verify_local(ctx.root)
        bad = set()
        for name in self.queries():
            if name not in ctx.state["results"]:
                continue  # every request of it failed, and counts so
            cols, rows = ctx.state["results"][name]
            problems = checks.check_query(vl, name, cols, rows, oracle[name])
            if problems:
                bad.add(name)
                ctx.problems.append(f"{self.name}: " + "; ".join(problems))
        for r in reqs:
            if r.kind in bad:
                r.ok = False

    def final_state(self, ctx: Ctx) -> dict:
        return {"catalog_held": ctx.state["catalog_held"]}


WORKLOADS = {w.name: w for w in (IngestTrickle(), AnalyticsMix())}
