"""The benchmark's workloads: ``query_mix``, ``elt_ingest`` and ``corpus_sync``.

Each drives the engine only through its public functions, one call at a
time from this process, and times every call into a layer from outside
(``Tracer`` spans; ``TracedTableIO`` for the table writes). A workload has
three steps: ``warm_up`` (untimed, before the first timed call),
``unit`` (one pass of the workload, the timed window) and ``check``
(output correctness, untimed).

The seeded input plans (query order, chunk bounds, doc-id batches) are
plain functions of the seed so they can be tested without Spark.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.metrics import Tracer, tree_cpu_s

SYNC_TICKS = 1  # delta ticks after the bootstrap tick, before the takedown tick
# corpus_sync's trimmed EL+T pass: small tables, one landing job, one mart
SYNC_BULK = {
    "append": ("orders", "o_orderdate", 2),
    "merge": ("customer", "c_custkey", 3),
    "replace": ("nation", "n_nationkey", 1),
}
SYNC_LANDING_JOBS = ("electricity_sharepoint",)
SYNC_MARTS = ("power_consumption",)
TAKEDOWN_MOD = 97


# -- seeded input plans (Spark-free) ------------------------------------------


def query_order(names: list[str], seed: int, round_idx: int) -> list[str]:
    """The query sequence of one round."""
    out = sorted(names)
    random.Random(seed * 1_000_003 + round_idx).shuffle(out)
    return out


def date_chunks(seed: int, lo: dt.date, hi: dt.date, n: int) -> list[tuple[dt.date, dt.date]]:
    """``n`` half-open date ranges covering ``[lo, hi)`` at seeded cut
    points, in seeded (out-of-order) landing order."""
    span = (hi - lo).days
    rng = random.Random(seed)
    cuts = sorted(rng.sample(range(1, span), n - 1))
    bounds = [0, *cuts, span]
    ranges = [
        (lo + dt.timedelta(days=bounds[i]), lo + dt.timedelta(days=bounds[i + 1]))
        for i in range(n)
    ]
    rng.shuffle(ranges)
    return ranges


def overlapping_key_chunks(seed: int, n: int) -> tuple[int, list[tuple[int, int]]]:
    """A salt and ``n`` residue pairs: chunk ``(a, b)`` holds the keys with
    ``(key + salt) mod n`` in ``{a, b}``, so every key lands in exactly two
    chunks (the upsert overlap). The chunk order is seeded."""
    rng = random.Random(seed + 1)
    pairs = [(i, (i + 1) % n) for i in range(n)]
    rng.shuffle(pairs)
    return rng.randrange(n), pairs


def doc_batches(doc_ids: list[int], seed: int, n_ticks: int) -> list[list[int]]:
    """A seeded partition of every doc id into a bootstrap batch (half the
    corpus) and ``n_ticks`` delta batches."""
    ids = sorted(doc_ids)
    random.Random(seed + 2).shuffle(ids)
    half = len(ids) // 2
    rest = ids[half:]
    step = -(-len(rest) // n_ticks)
    return [ids[:half]] + [rest[i * step : (i + 1) * step] for i in range(n_ticks)]


# -- shared plumbing ----------------------------------------------------------


@dataclass
class Context:
    spark: object
    sf_dir: str
    tmp: Path  # the run's temp root; everything a workload writes lives here
    root: Path  # the checkout root
    seed: int
    tracer: Tracer


@dataclass
class Workload:
    ctx: Context
    samples: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    attempted: int = 0
    input_bytes_per_unit: int = 0

    def __post_init__(self) -> None:
        pass

    def span(self, name: str):
        return self.ctx.tracer.span(name)

    def op(self) -> None:
        self.attempted += 1

    @contextmanager
    def timed_op(self):
        """One operation: counted, and its wall and CPU time sampled."""
        self.op()
        t0, c0 = time.perf_counter(), tree_cpu_s()
        yield
        self.samples["op"].append(time.perf_counter() - t0)
        self.samples["op_cpu"].append(tree_cpu_s() - c0)

    def reset(self) -> None:
        """Forget what warm-up recorded, so only the timed unit counts."""
        self.samples.clear()
        self.counts.clear()
        self.attempted = 0

    def detail(self) -> dict:
        """Workload-specific end-to-end figures for the run record."""
        return {}


def _parquet_bytes(sf_dir: str, *tables: str) -> int:
    return sum(os.path.getsize(f"{sf_dir}/{t}.parquet") for t in tables)


def _dir_bytes(path: str | Path) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# -- query_mix ----------------------------------------------------------------


class QueryMix(Workload):
    """The analyst read path: the headline queries, each built from the
    registry and materialised to the ``noop`` sink, in seeded order per
    round."""

    def __post_init__(self) -> None:
        from analytics_data_platform_spark.queries import all_queries

        self.registry = all_queries()
        self.names = sorted(n for n, s in self.registry.items() if s.bench)
        self.rows: dict[str, object] = {}
        self.per_query: dict[str, float] = {}

    def warm_up(self) -> None:
        # the warm-up round collects every result; check() compares those
        # rows with the DuckDB oracle, so the oracle's Spark side costs no
        # extra round
        for name in query_order(self.names, self.ctx.seed, -1):
            self.rows[name] = self.registry[name].fn(self.ctx.spark, self.ctx.sf_dir).toPandas()

    def unit(self) -> None:
        spark, sf = self.ctx.spark, self.ctx.sf_dir
        for name in query_order(self.names, self.ctx.seed, 0):
            with self.timed_op():
                with self.span("queries.build"):
                    df = self.registry[name].fn(spark, sf)
                if self.ctx.tracer.enabled:
                    self._catalyst_phases(df)
                with self.span("exec.materialise"):
                    df.write.format("noop").mode("overwrite").save()
            self.per_query[name] = self.samples["op"][-1]

    def _catalyst_phases(self, df) -> None:
        """Plan the built frame and read its QueryExecution tracker phases
        (analysis ran eagerly at construction; planning is forced here).
        The ``noop`` write then runs its own command QueryExecution, which
        optimizes and plans the same logical plan again; these phases come
        from this separate planning. It is work only the traced run does,
        so its span counts as tracing overhead."""
        with self.span("trace.catalyst"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                if phases.contains(phase):
                    self.counts[f"catalyst.{phase}_s"] += (
                        phases.apply(phase).durationMs() / 1000.0
                    )

    def check(self) -> tuple[int, list[str]]:
        from analytics_data_platform_spark import oracle

        con = oracle.duckdb_connection(self.ctx.sf_dir)
        bad = []
        for name in self.names:
            diff = oracle.compare_frames(self.rows[name], con.sql(self.registry[name].oracle).df())
            if diff:
                bad.append(f"{name}: {diff[:300]}")
        return len(self.names), bad

    def detail(self) -> dict:
        return {
            "headline_total_s": sum(self.per_query.values()),
            "per_query_s": dict(sorted(self.per_query.items())),
        }


# -- elt_ingest ---------------------------------------------------------------


def _traced_table_io(spark, tracer: Tracer):
    """A TableIO whose writes are timed per write mode."""
    from analytics_data_platform_spark.tables.io import TableIO

    class TracedTableIO(TableIO):
        def write_table(self, df, table, mode="append", **kwargs):
            with tracer.span(f"tables.io.{mode}"):
                return super().write_table(df, table, mode=mode, **kwargs)

    return TracedTableIO(spark)


LANDING_JOBS = {
    "opralogweb": {"n_entries": "40"},
    "statusdisplay": {},
    "accelerator_sharepoint": {},
    "electricity_sharepoint": {},
    "moderator_performance": {"mode": "full"},
}
ARCHIVE_RUNS = (4100, 4101, 4114)  # 4114 is a low-charge run the job skips


# write mode -> (table, chunking and watermark column, chunks): append lands
# seeded out-of-order date ranges, merge upserts overlapping key chunks on
# that key, replace lands key-residue chunks
FULL_BULK = {
    "append": ("lineitem", "l_shipdate", 8),
    "merge": ("orders", "o_orderkey", 4),
    "replace": ("customer", "c_custkey", 2),
}
WARM_BULK = {
    **FULL_BULK,
    "append": ("lineitem", "l_shipdate", 2),
    "merge": ("orders", "o_orderkey", 2),
}
# integer checksums of a landed table against its source parquet
BULK_CHECKS = {
    "lineitem": "count(*), sum(l_orderkey * 8 + l_linenumber), "
    "sum(CAST(round(l_extendedprice * 100) AS BIGINT)), max(l_shipdate)",
    "orders": "count(*), count(DISTINCT o_orderkey), sum(o_orderkey), "
    "sum(CAST(round(o_totalprice * 100) AS BIGINT)), max(o_orderdate)",
    "customer": "count(*), count(DISTINCT c_custkey), sum(c_custkey), "
    "sum(CAST(round(c_acctbal * 100) AS BIGINT))",
    "nation": "count(*), count(DISTINCT n_nationkey), sum(n_nationkey)",
}


class EltPass:
    """One EL+T pass, recorded into the workload ``wl`` that runs it: bulk
    chunks through ``run_ingest`` in append, merge and replace mode (see
    ``FULL_BULK``), an incremental re-run that must land nothing, then
    landing jobs and the transform DAG (``marts`` and their upstream
    models; ``None`` builds all of it) into fresh namespaces."""

    def __init__(self, wl: Workload, landing_jobs=tuple(LANDING_JOBS), marts=None) -> None:
        self.wl = wl
        self.landing_jobs = landing_jobs
        self.marts = marts
        self.last: dict[str, str] = {}
        self.bulk: dict[str, tuple[str, str, int]] = {}
        self.rerun_rows = -1

    def _date_range(self, table: str, col: str) -> tuple[dt.date, dt.date]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        span = pc.min_max(pq.read_table(f"{self.wl.ctx.sf_dir}/{table}.parquet", columns=[col])[0])
        lo, hi = (d.date() if isinstance(d, dt.datetime) else d for d in (
            span["min"].as_py(), span["max"].as_py()
        ))
        return lo, hi + dt.timedelta(days=1)

    def _extract(self, seed: int, bulk: dict, record: bool):
        import pyspark.sql.functions as F

        from analytics_data_platform_spark.elt.extract import Extract, ResourceProperties
        from analytics_data_platform_spark.sources.testdata import load_table

        wl = self.wl
        frames = {t: load_table(wl.ctx.spark, wl.ctx.sf_dir, t) for t, _, _ in bulk.values()}

        def chunks(table, col, parts):
            dtype = dict(frames[table].dtypes)[col]

            def extractor(wm):
                for df in parts:
                    if wm is not None:
                        df = df.where(F.col(col) > F.lit(wm.value).cast(dtype))
                    t0, c0 = time.perf_counter(), tree_cpu_s() if record else 0.0
                    yield df
                    if record:
                        wl.samples["chunk"].append(time.perf_counter() - t0)
                        wl.samples["chunk_cpu"].append(tree_cpu_s() - c0)

            return extractor

        resources = []
        for mode, (table, col, n) in bulk.items():
            df, c = frames[table], F.col(col)
            if mode == "append":
                ranges = date_chunks(seed, *self._date_range(table, col), n)
                parts = [df.where((c >= F.lit(a)) & (c < F.lit(b))) for a, b in ranges]
                kw = {}
            elif mode == "merge":
                salt, pairs = overlapping_key_chunks(seed, n)
                parts = [df.where(((c + salt) % n).isin(a, b)) for a, b in pairs]
                kw = {"merge_on": [col]}
            else:
                parts = [df.where(c % n == i) for i in range(n)]
                kw = {}
            props = ResourceProperties(
                chunks(table, col, parts), write_mode=mode, watermark_column=col, **kw
            )
            resources.append((table, props))

        class BulkExtract(Extract):
            def extract_resource_properties(self):
                yield from resources

        return BulkExtract()

    def _ingest(self, extract, namespace: str, io) -> int:
        from analytics_data_platform_spark.elt.runner import run_ingest

        wl = self.wl
        wl.op()
        t0 = time.perf_counter()
        with wl.span("elt.runner.run_ingest"):
            stats = run_ingest(wl.ctx.spark, extract, namespace, io=io)
        wl.samples["ingest"].append(time.perf_counter() - t0)
        rows = sum(r.rows for r in stats.resources.values())
        wl.counts["elt.runner.chunks"] += sum(r.chunks for r in stats.resources.values())
        wl.counts["elt.runner.rows"] += rows
        return rows

    def run(self, tag: str, seed: int, bulk: dict, record: bool) -> None:
        from analytics_data_platform_spark.elt.pipeline import find_job, load_extract_class
        from analytics_data_platform_spark.plans.facility_ops import dag

        wl, spark = self.wl, self.wl.ctx.spark
        io = _traced_table_io(spark, wl.ctx.tracer)
        ns = f"bulk_{tag}"
        self.bulk = bulk
        self._ingest(self._extract(seed, bulk, record), ns, io)
        self.rerun_rows = self._ingest(self._extract(seed, bulk, False), ns, io)

        landed = {}
        warehouses = wl.ctx.root / "warehouses"
        for job in self.landing_jobs:
            manifest = find_job(warehouses, job)
            kwargs = LANDING_JOBS[job]
            if job == "moderator_performance":
                archive = wl.ctx.tmp / f"archive_{tag}"
                cycle = archive / "NDXmari" / "Instrument" / "data" / "cycle_24_2"
                cycle.mkdir(parents=True)
                for run in ARCHIVE_RUNS:
                    (cycle / f"mari{run}.nxs").touch()
                kwargs = {**kwargs, "archive_mount": str(archive)}
            extract = load_extract_class(manifest)(**kwargs)
            landed[manifest.namespace] = f"{manifest.namespace}_{tag}"
            self._ingest(extract, landed[manifest.namespace], io)

        select = list(self.marts) if self.marts else None
        sources = {
            (schema, table): spark.table(f"{landed[schema]}.{table}")
            for schema, table in dag.required_sources(select)
            if schema in landed and spark.catalog.tableExists(f"{landed[schema]}.{table}")
        }
        wl.op()
        t0 = time.perf_counter()
        with wl.span("plans.dag.run"):
            built = dag.run(
                spark,
                sources=sources,
                target_namespace=f"marts_{tag}",
                io=io,
                select=select,
                downstream=select is None,
            )
        wl.samples["transform"].append(time.perf_counter() - t0)
        wl.counts["plans.dag.models"] += len(built)
        self.last = {"bulk": ns, "marts": f"marts_{tag}"}

    def check(self) -> tuple[int, list[str]]:
        """DuckDB reads the landed table files and the source parquet and
        compares counts and integer checksums; plus the persisted watermark
        and the empty re-run. The DAG's data tests already ran inside
        ``dag.run`` (it raises on any failure)."""
        import duckdb

        from analytics_data_platform_spark.tables.io import TableIO

        io = TableIO(self.wl.ctx.spark)
        ns, sf = self.last["bulk"], self.wl.ctx.sf_dir
        con = duckdb.connect()
        bad = []
        for table, _, _ in self.bulk.values():
            aggs = BULK_CHECKS[table]
            loc = io.table_location(f"{ns}.{table}").removeprefix("file:")
            got = con.sql(f"SELECT {aggs} FROM read_parquet('{loc}/**/*.parquet')").fetchone()
            want = con.sql(f"SELECT {aggs} FROM read_parquet('{sf}/{table}.parquet')").fetchone()
            if got != want:
                bad.append(f"{table}: landed {got} != source {want}")
        table, col, _ = self.bulk["append"]
        wm = io.get_watermark_json(f"{ns}.{table}") or {}
        want_wm = con.sql(
            f"SELECT max({col}) FROM read_parquet('{sf}/{table}.parquet')"
        ).fetchone()[0]
        got_wm = wm.get("value")
        if not isinstance(got_wm, str) or dt.datetime.fromisoformat(got_wm) != want_wm:
            bad.append(f"{table} watermark {got_wm!r} != {want_wm}")
        if self.rerun_rows != 0:
            bad.append(f"incremental re-run landed {self.rerun_rows} rows")
        return len(self.bulk) + 2, bad

    def detail(self) -> dict:
        from statistics import median

        s = self.wl.samples
        return {
            "ingest_rows_per_s": self.wl.counts["elt.runner.rows"] / sum(s["ingest"])
            if s["ingest"]
            else None,
            "ingest_chunk_p50_s": median(s["chunk"]) if s["chunk"] else None,
            "transform_s": median(s["transform"]) if s["transform"] else None,
        }


class EltIngest(Workload):
    """The full EL+T write path (run by hand; ``corpus_sync`` runs a trimmed
    pass): 8 lineitem, 4 orders and 2 customer chunks, all five
    facility_ops landing jobs and the whole transform DAG. The chunk
    latencies are the operation samples."""

    def __post_init__(self) -> None:
        self.elt = EltPass(self)
        self.input_bytes_per_unit = _parquet_bytes(
            self.ctx.sf_dir, *(t for t, _, _ in FULL_BULK.values())
        )

    def warm_up(self) -> None:
        self.elt.run("warm", self.ctx.seed, WARM_BULK, record=False)

    def unit(self) -> None:
        self.elt.run("unit", self.ctx.seed, FULL_BULK, record=True)
        self.samples["op"] = self.samples["chunk"]
        self.samples["op_cpu"] = self.samples["chunk_cpu"]

    def check(self) -> tuple[int, list[str]]:
        return self.elt.check()

    def detail(self) -> dict:
        return self.elt.detail()


# -- corpus_sync --------------------------------------------------------------


class CorpusSync(Workload):
    """The lakehouse write loop: land and transform, then ingest -> govern
    -> erase -> serve. Set-up bootstraps the corpus state and the search
    index from a seeded half of the corpus. The timed unit first runs a
    trimmed EL+T pass (2 lineitem and 3 orders chunks, two landing jobs and
    the marts they feed), then the delta refresh tick over the rest of the
    corpus and a takedown tick, each followed by changelog-driven index
    maintenance; then one BM25 serve of ``QUERY_TERMS`` and
    ``apply_deletes``. The unit ends with the whole corpus ingested, so the
    served ranking is the registered ``serving_index_corpus_sync``
    oracle's. The tick latencies are the operation samples."""

    def __post_init__(self) -> None:
        import pyarrow.parquet as pq

        from analytics_data_platform_spark.queries.search_ops import QUERY_TERMS
        from analytics_data_platform_spark.sources.testdata import load_table

        sf = self.ctx.sf_dir
        doc_ids = pq.read_table(f"{sf}/documents.parquet", columns=["doc_id"])[0].to_pylist()
        self.batches = doc_batches(doc_ids, self.ctx.seed, SYNC_TICKS)
        self.query_terms = QUERY_TERMS
        self.docs = load_table(self.ctx.spark, sf, "documents")
        self.elt = EltPass(self, landing_jobs=SYNC_LANDING_JOBS, marts=SYNC_MARTS)
        self.input_bytes_per_unit = _parquet_bytes(
            sf, "documents", *(t for t, _, _ in SYNC_BULK.values())
        )
        self.state = str(self.ctx.tmp / "state")
        self.root = str(self.ctx.tmp / "index")
        self.idx = None
        self.final_ranking = None
        self.stored_bytes_per_live_row = None

    def _refresh(self, tick: int) -> None:
        import pyspark.sql.functions as F

        from analytics_data_platform_spark.pipelines.incremental import refresh_corpus_state

        spark = self.ctx.spark
        wanted = spark.createDataFrame([(i,) for i in self.batches[tick]], "doc_id long")
        batch = self.docs.join(F.broadcast(wanted), "doc_id", "left_semi")
        with self.span("pipelines.incremental.refresh"):
            refresh_corpus_state(spark, self.state, batch, tick)

    def warm_up(self) -> None:
        """Bootstrap tick: the corpus state and the index it feeds."""
        from analytics_data_platform_spark.operators.search_index import SearchIndex
        from analytics_data_platform_spark.pipelines.incremental import read_state_part

        spark = self.ctx.spark
        self._refresh(0)
        with self.span("operators.search_index.build"):
            self.idx = SearchIndex(spark, self.root, mode="scored").build(
                read_state_part(spark, self.state, "live", 0)
            )

    def _apply_changelog(self, tick: int) -> None:
        from analytics_data_platform_spark.pipelines.incremental import state_changelog

        with self.span("pipelines.incremental.changelog"):
            appeared, evicted = state_changelog(
                self.ctx.spark, self.state, "live", tick - 1, tick, key_cols=["doc_id"]
            )
        with self.span("operators.search_index.append"):
            if not appeared.isEmpty():  # a takedown tick appends nothing
                self.idx.append(appeared)
        with self.span("operators.search_index.delete_docs"):
            self.idx.delete_docs(evicted)

    def unit(self) -> None:
        import pyspark.sql.functions as F

        from analytics_data_platform_spark.pipelines.incremental import takedown_corpus_state

        self.elt.run("unit", self.ctx.seed, SYNC_BULK, record=True)
        takedown = len(self.batches)
        for tick in range(1, takedown + 1):
            with self.timed_op():
                if tick < takedown:
                    self._refresh(tick)
                else:
                    with self.span("pipelines.incremental.takedown"):
                        takedown_corpus_state(
                            self.ctx.spark,
                            self.state,
                            self.docs.where(F.col("doc_id") % TAKEDOWN_MOD == 0),
                            tick,
                        )
                self._apply_changelog(tick)
        # served with the takedown's merge-on-read deletes pending; check()
        # compares these rows with the oracle
        self.op()
        t0 = time.perf_counter()
        with self.span("operators.search_index.bm25"):
            self.final_ranking = self.idx.bm25(self.query_terms).toPandas()
        self.samples["serve"].append(time.perf_counter() - t0)
        self.op()
        with self.span("operators.search_index.apply_deletes"):
            self.idx.apply_deletes()

    def _snapshot_counts(self) -> None:
        from analytics_data_platform_spark.tables.snapshots import SnapshotTable

        versions = files = 0
        for part in sorted(os.listdir(self.state)):
            if os.path.isdir(os.path.join(self.state, part, "manifests")):
                t = SnapshotTable(self.ctx.spark, os.path.join(self.state, part))
                versions += len(t.versions())
                files += len(t.snapshot().files)
        self.counts["tables.snapshots.versions"] = versions
        self.counts["tables.snapshots.data_files"] = files
        self.counts["tables.snapshots.bytes"] = _dir_bytes(self.state)
        live = int(self.idx.stats()["n_docs"])
        self.stored_bytes_per_live_row = (_dir_bytes(self.state) + _dir_bytes(self.root)) / live

    def check(self) -> tuple[int, list[str]]:
        from analytics_data_platform_spark import oracle
        from analytics_data_platform_spark.queries import all_queries

        self._snapshot_counts()  # storage accounting, untimed
        con = oracle.duckdb_connection(self.ctx.sf_dir)
        want = con.sql(all_queries()["serving_index_corpus_sync"].oracle).df()
        diff = oracle.compare_frames(self.final_ranking, want)
        checks, bad = self.elt.check()
        if diff:
            bad.append(f"serving_index_corpus_sync ranking: {diff[:300]}")
        return checks + 1, bad

    def detail(self) -> dict:
        from statistics import median

        serve = self.samples["serve"]
        return {
            "serve_p50_s": median(serve) if serve else None,
            "stored_bytes_per_live_row": self.stored_bytes_per_live_row,
            **self.elt.detail(),
        }


WORKLOADS = {"query_mix": QueryMix, "elt_ingest": EltIngest, "corpus_sync": CorpusSync}
