"""The two benchmark workloads. Each is a closed loop with one client:
an operation starts when the previous one has finished.

Every workload runs one cold unit (a pass or cycle in the fresh session),
then warm units until the run's seconds are used up, then checks its
outputs outside the timed operations. A traced run alternates
traced and untraced warm units, so it measures its own overhead.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from . import gen

# The queries the curation workload runs. A cold pass costs 1-5 s per
# query of JIT and codegen warm-up on 4 cores, so the set is small enough
# for a whole run (JVM start, cold pass, warm passes, check) to take under
# a minute; the README gives the arithmetic.
CURATION = [
    "q22_exact_dedup_fingerprint",   # text dedup
    "q63_curate_corpus_certified",   # composed curation (staged)
    "q78_ann_recall",                # similarity: multiprobe LSH recall
    "q73_kmeans_clusters",           # vector fit run by the builder
]
# Weekly refresh tables the generated payloads feed: a snapshot dimension,
# its memberships, the upserted vote fact whose bucketed history grows
# every cycle, and the gold roster built from the first two in the same
# batch. run_refresh always adds the three control tables. Each table
# costs 1-4 s per cycle whatever its size.
REFRESH_TABLES = ["silver_members", "silver_member_memberships",
                  "silver_member_votes", "gold_current_members"]

SIZES = {
    "bench": {"sf": 0.01, "members": 200, "divisions": 40, "votes": 120,
              "live_rows": 2000, "live_files": 2},
    "smoke": {"sf": 0.001, "members": 20, "divisions": 4, "votes": 10,
              "live_rows": 200, "live_files": 2},
}
SENTINEL_ROWS = 4_000_000
AS_OF = dt.date(2026, 1, 7)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    sizes: dict
    tracer: object = None
    cores: int = 4
    refresh_tables: tuple = tuple(REFRESH_TABLES)

    def span(self, name: str, **attrs):
        t = self.tracer
        return t.span(name, **attrs) if t is not None and t.enabled \
            else nullcontext()

    def sentinel(self) -> float:
        """Constant-work Spark aggregate: moves with the host, not with
        the program (it calls nothing in the package)."""
        t0 = time.perf_counter()
        got = self.spark.range(0, SENTINEL_ROWS, 1, self.cores) \
            .selectExpr("sum(id % 7) as s").collect()[0]["s"]
        elapsed = time.perf_counter() - t0
        want = sum(i % 7 for i in range(7)) * (SENTINEL_ROWS // 7) + sum(
            range(SENTINEL_ROWS % 7))
        if got != want:
            raise RuntimeError(f"sentinel sum {got} != {want}")
        return elapsed


@dataclass
class Result:
    cold_s: float = 0.0
    units: list = field(default_factory=list)    # warm unit walls
    traced: list = field(default_factory=list)   # per warm unit
    roots: list = field(default_factory=list)    # span id per warm unit
    ops: list = field(default_factory=list)      # warm op latencies
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    sentinel: list = field(default_factory=list)
    input_bytes: int = 0
    unit_input_bytes: list = field(default_factory=list)
    unit_written: list = field(default_factory=list)  # (bytes, files)
    layer: dict = field(default_factory=dict)    # extra per-layer metrics
    # test hook: names whose expected result is corrupted before the check
    corrupt: tuple = ()


def _units(ctx: Ctx, res: Result, run_unit, min_warm: int,
           warmup: int = 0) -> None:
    """Cold unit, ``warmup`` untimed warm units, then warm units until
    ``ctx.seconds`` have elapsed (at least ``min_warm``). A warm-up unit
    is ``run_unit(k, warm=False)``: it runs the unit but records nothing,
    so the timed units start past the JIT transient. A traced run
    alternates untraced and traced units, starting untraced, so each
    traced unit sits between two untraced ones and JIT warm-up does not
    bias the overhead ratio."""
    tracer = ctx.tracer
    with ctx.span("cold"):
        t0 = time.perf_counter()
        run_unit(0, warm=False)
        res.cold_s = time.perf_counter() - t0
    if tracer is not None:
        tracer.enabled = False
    for _ in range(warmup):
        run_unit(0, warm=False)
    if tracer is not None:
        tracer.enabled = True
    res.sentinel.append(ctx.sentinel())
    end = time.perf_counter() + ctx.seconds
    k = 1
    while k <= min_warm or time.perf_counter() < end:
        traced = tracer is not None and k % 2 == 0
        if tracer is not None:
            tracer.enabled = traced
        with ctx.span("unit") as rec:
            t0 = time.perf_counter()
            run_unit(k, warm=True)
            res.units.append(time.perf_counter() - t0)
        res.traced.append(traced)
        res.roots.append(rec["id"] if rec else None)
        if tracer is not None:
            tracer.enabled = True
        res.sentinel.append(ctx.sentinel())
        k += 1


# -- curation ---------------------------------------------------------------

def _canon_rows(rows, cols):
    from tools.check_oracle import canon
    return sorted(tuple(canon(r[c]) for c in cols) for r in rows)


def run_queries(ctx: Ctx, names: list[str], res: Result) -> None:
    from eirepolitic_data_pipeline_spark import workload

    data = os.path.join(ctx.work, "data")
    res.input_bytes = gen.star_schema(data, ctx.seed, ctx.sizes["sf"])
    qs = workload.queries()
    rng = random.Random(ctx.seed)
    last: dict = {}
    runs: dict = {n: 0 for n in names}
    failed_ops: dict = {n: 0 for n in names}
    memo = res.layer.setdefault("memo", [0, 0])  # hits, calls (traced)

    def one_pass(k: int, warm: bool) -> None:
        order = list(names)
        rng.shuffle(order)
        for n in order:
            t0 = time.perf_counter()
            ok = False
            try:
                with ctx.span("op", query=n):
                    with ctx.span("workload.build"):
                        df = qs[n](ctx.spark, data)
                    with ctx.span("workload.exec"):
                        df.write.format("noop").mode("overwrite").save()
                ok = True
            except Exception as e:  # noqa: BLE001 — counted, reported
                res.errors.append(f"{n}: {type(e).__name__}: {e}"[:400])
                failed_ops[n] += 1
            lat = time.perf_counter() - t0
            if ok:
                if warm and ctx.tracer is not None and ctx.tracer.enabled:
                    memo[0] += df is last.get(n)
                    memo[1] += 1
                last[n] = df
            runs[n] += 1
            if warm:
                res.ops.append(lat)

    # one untimed pass first: the JIT is still compiling the queries'
    # code in the first warm pass, which is slower and noisier than later
    _units(ctx, res, one_pass, min_warm=3 if ctx.tracer else 1, warmup=1)
    if ctx.tracer is not None:
        ctx.tracer.enabled = False
    t0 = time.perf_counter()
    wrong = check_queries(ctx.spark, data, last, names, res)
    res.layer["check_s"] = time.perf_counter() - t0
    res.attempted = sum(runs.values())
    res.failed = sum(runs[n] if n in wrong else failed_ops[n]
                     for n in names)


def check_queries(spark, data: str, frames: dict, names, res: Result):
    """Compare each query's last result with its DuckDB oracle: column
    names, row count and the order-insensitive canonical value multiset.
    Returns the names that failed."""
    import duckdb

    from eirepolitic_data_pipeline_spark import workload

    oracles = workload.oracle_sql()
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data, t)}.parquet'")
    wrong = set()
    for n in names:
        df = frames.get(n)
        if df is None:
            wrong.add(n)
            continue
        cols = sorted(df.columns)
        got = _canon_rows(df.collect(), cols)
        sql = oracles.get(n)
        if sql is None:
            if not got:
                wrong.add(n)
                res.errors.append(f"{n}: no rows")
            continue
        odf = con.execute(sql).fetch_df()
        ocols = sorted(odf.columns.tolist())
        want = _canon_rows(odf.to_dict("records"), ocols)
        if n in res.corrupt and want:
            want = want[1:]
        if cols != ocols or got != want:
            wrong.add(n)
            diff = "columns" if cols != ocols else (
                f"rows {len(got)} vs oracle {len(want)}" if len(got) != len(
                    want) else "values")
            res.errors.append(f"{n}: oracle mismatch ({diff})")
    con.close()
    return wrong


# -- refresh ----------------------------------------------------------------

STREAM_SCHEMA = ("event_id long, user_id long, event_type string, "
                 "ts timestamp, value double")


def run_refresh_cycles(ctx: Ctx, res: Result) -> None:
    """Weekly cycles: ``run_refresh`` over the cycle's generated payloads
    into a new promoted batch, then an availableNow drain of the cycle's
    live event files through ``streaming_merge_sink``. The timed
    operations are the ``build_table`` calls; stream epochs count as
    attempted operations and feed the streaming per-layer metrics."""
    from eirepolitic_data_pipeline_spark.io.catalog import (
        BatchCatalog, CatalogError)
    from eirepolitic_data_pipeline_spark.jobs import run_refresh as rr
    from eirepolitic_data_pipeline_spark.plans.default_tables import (
        DEFAULT_TABLES_CONFIG)
    from eirepolitic_data_pipeline_spark.plans.registry import TableRegistry

    tables = list(ctx.refresh_tables)
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    wh = os.path.join(ctx.work, "warehouse")
    catalog = BatchCatalog(root=os.path.join(wh, "batch"))
    live = LiveFeed(ctx, res, os.path.join(wh, "live"))
    s = ctx.sizes
    generated = []
    cycle_ops: list = []

    build = rr.build_table

    def timed_build(*a, **kw):
        t0 = time.perf_counter()
        ok = False
        try:
            out = build(*a, **kw)
            ok = True
            return out
        finally:
            cycle_ops.append((time.perf_counter() - t0, ok))

    def one_cycle(k: int, warm: bool) -> None:
        raw = os.path.join(ctx.work, "raw", f"c{k}")
        as_of = AS_OF + dt.timedelta(days=7 * k)
        g = gen.refresh_cycle(
            raw, ctx.seed, k, members=s["members"],
            divisions=s["divisions"], votes=s["votes"], as_of=as_of)
        in_bytes = _tree_bytes(raw) + live.deliver(s["live_files"])
        before = _files(wh)
        generated.append(g)
        del cycle_ops[:]
        try:
            with ctx.span("jobs.run_refresh"):
                out = rr.run_refresh(
                    ctx.spark, catalog, registry, "weekly", as_of=as_of,
                    batch_id=f"w{k:03d}", raw_root=raw, tables=tables)
            if out.failed or not out.promoted:
                res.errors.append(f"cycle {k}: failed={out.failed}")
        except CatalogError as e:
            res.errors.append(f"cycle {k}: {e}"[:400])
        epochs = live.drain(k, warm)
        res.attempted += len(cycle_ops) + epochs
        res.failed += sum(1 for _, ok in cycle_ops if not ok)
        if warm:
            res.ops.extend(lat for lat, _ in cycle_ops)
            res.unit_input_bytes.append(in_bytes)
            res.unit_written.append(_written(before, _files(wh)))
        res.input_bytes += in_bytes

    rr.build_table = timed_build
    try:
        _units(ctx, res, one_cycle, min_warm=3 if ctx.tracer else 1)
    finally:
        rr.build_table = build
    if ctx.tracer is not None:
        ctx.tracer.enabled = False
    t0 = time.perf_counter()
    res.failed += check_refresh(ctx.spark, catalog, generated, tables, res)
    res.failed += live.check()
    res.layer["check_s"] = time.perf_counter() - t0
    res.layer["store_bytes"] = _tree_bytes(wh)


def check_refresh(spark, catalog, generated, tables, res: Result) -> int:
    """Production row counts against what the generator produced: the
    roster once, the upserted vote history summed over every cycle.
    Returns the number of failed checks (each counts as a failed op; a
    table whose build raised was already counted by its cycle)."""
    want = {"silver_members": generated[-1]["members"],
            "silver_member_memberships": generated[-1]["members"],
            "gold_current_members": generated[-1]["members"],
            "silver_member_votes": sum(g["votes"] for g in generated)}
    bad = 0
    promoted = catalog.production_batch_id()
    if promoted != f"w{len(generated) - 1:03d}":
        res.errors.append(f"last promoted batch is {promoted}")
        return 1
    for t, n in want.items():
        if t not in tables:
            continue
        got = catalog.read_table(spark, t).count()
        if got != n:
            res.errors.append(f"{t}: {got} rows, generated {n}")
            bad += 1
    return bad


class LiveFeed:
    """The live event feed a refresh cycle drains: seeded event files, 20%
    of ids re-delivered, upserted by ``streaming_merge_sink``
    (availableNow, one file per epoch) into the ``events_live`` table of
    its own catalog. The same ``MergeWriter`` as the batch tables, in the
    opposite shape: many small upserts against a growing history."""

    def __init__(self, ctx: Ctx, res: Result, root: str):
        from eirepolitic_data_pipeline_spark.io.catalog import BatchCatalog
        from eirepolitic_data_pipeline_spark.io.writers import MergeWriter
        from eirepolitic_data_pipeline_spark.operators.merge import (
            WritePolicy)

        self.ctx, self.res = ctx, res
        self.src = os.path.join(ctx.work, "live_src")
        self.ckpt = os.path.join(ctx.work, "live_ckpt")
        os.makedirs(self.src)
        self.catalog = BatchCatalog(root=root)
        self.writer = MergeWriter(catalog=self.catalog, spark=ctx.spark)
        self.policy = WritePolicy(mode="upsert", primary_key=["event_id"])
        self.rows = ctx.sizes["live_rows"]
        self.delivered = 0
        res.layer.setdefault("progress", [])

    def deliver(self, n_files: int) -> int:
        """Write the next ``n_files`` event files; return their bytes."""
        got = sum(gen.stream_file(self.src, self.ctx.seed,
                                  self.delivered + i, self.rows)
                  for i in range(n_files))
        self.delivered += n_files
        return got

    def drain(self, k: int, warm: bool) -> int:
        """Upsert every delivered file; return the number of epochs."""
        from eirepolitic_data_pipeline_spark.streaming.jobs import (
            streaming_merge_sink)

        stream = (self.ctx.spark.readStream.schema(STREAM_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(self.src))
        q = streaming_merge_sink(stream, self.writer, "events_live",
                                 self.policy, batch_id="live",
                                 checkpoint_dir=self.ckpt)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"live drain {k}: {q.exception()}")
        epochs = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if warm:
            tracer = self.ctx.tracer
            traced = tracer is not None and tracer.enabled
            self.res.layer["progress"].append((traced, epochs))
        return len(epochs)

    def check(self) -> int:
        """1 if the table differs from the keep-last merge of every
        delivered file, else 0."""
        got = sorted(tuple(r) for r in self.catalog.read_table(
            self.ctx.spark, "events_live", batch_id="live").selectExpr(
                "event_id", "user_id", "event_type", "unix_micros(ts)",
                "value").collect())
        want = gen.stream_expected_rows(self.ctx.seed, self.delivered,
                                        self.rows)
        err = check_stream(got, want)
        if err:
            self.res.errors.append(f"events_live: {err}")
        return 1 if err else 0


def check_stream(got: list, want: list) -> str | None:
    """Compare the sorted table rows with the keep-last merge, every
    column: a re-delivered event kept twice, a lost one or a wrong field
    all fail. Returns what differs, or None."""
    if got == want:
        return None
    distinct = len({r[0] for r in got})
    return (f"{len(got)} rows ({distinct} distinct ids), expected "
            f"{len(want)}; {sum(a != b for a, b in zip(got, want))} of the "
            f"first {min(len(got), len(want))} rows differ")


def run_curation(ctx: Ctx, res: Result) -> None:
    run_queries(ctx, CURATION, res)


WORKLOADS = {"curation": run_curation, "refresh": run_refresh_cycles}


def _files(path: str) -> dict:
    """{file: (size, mtime, inode)} of the data files under ``path``
    (checksums and markers skipped)."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                st = os.stat(os.path.join(root, n))
                out[os.path.join(root, n)] = (st.st_size, st.st_mtime_ns,
                                              st.st_ino)
    return out


def _tree_bytes(path: str) -> int:
    return sum(size for size, _, _ in _files(path).values())


def _written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) present after and new or rewritten since before."""
    new = [v for k, v in after.items() if before.get(k) != v]
    return sum(v[0] for v in new), len(new)
