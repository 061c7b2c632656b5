"""The three benchmark workloads.

Each is a closed loop with one client: the next timed call starts only
after the previous one returns.  Every timed call evaluates fully, into
its real sink or into the ``noop`` sink, never through ``.count()``
(``selftest.py`` checks the functions named in :data:`TIMED_PATHS`).

A workload fills a :class:`Run`: setup parts, the wall time and clock
window of each timed pass, the units of work done, per-layer numbers
for the traced run, and the correctness checks it made.  ``run.py``
turns that into metrics.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import gen

HERE = os.path.dirname(os.path.abspath(__file__))

#: functions whose body is timed; none may call ``.count()``
TIMED_PATHS = ("_survey_pass", "_ledger_query", "_commit_cycle")

#: survey: catalog density of the paper-scale job (~2,500 objects per
#: square degree) over a 20°×20° patch, 500 cones of 15′ radius
SURVEY = {
    "n_objects": 1_000_000,
    "patch": {"ra": (100.0, 120.0), "dec": (-10.0, 10.0)},
    "n_samples": 500,
    "radius_arcmin": 15,
    "check_samples": 16,
    #: untimed passes before timing: the first few passes still run
    #: slower while the JVM compiles the plan's hot code
    "warm_passes": 2,
}
#: ledger: scale factor of the generated star schema, and the threads
#: the untimed oracle pass runs queries on
LEDGER_SF = 0.01
WARM_THREADS = 3
#: commit_log: per-sample result store and its commit batches
COMMIT = {
    "n_base": 200_000,
    "n_batches": 20,
    "updates": 1500,
    "inserts": 400,
    "deletes": 100,
    "compact_after": 10,
}


@dataclass
class Run:
    spark: object
    tracer: object
    root: str
    data_root: str
    work_dir: str
    seed: int
    seconds: float
    cores: int
    trace: bool
    setup: dict = field(default_factory=dict)
    #: wall seconds of each timed pass, and its (start, end) epoch window
    passes: list = field(default_factory=list)
    windows: list = field(default_factory=list)
    units: int = 0
    timed_wall: float = 0.0
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)

    def timed(self, fn, *args):
        """Run one timed pass; return its result."""
        t0, w0 = time.perf_counter(), time.time()
        out = fn(*args)
        self.passes.append(time.perf_counter() - t0)
        self.windows.append((w0, time.time()))
        return out

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.notes.append(f"wrong output: {what}")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _traced_turn(run: Run, i: int) -> bool:
    """In a traced run, passes alternate untraced/traced (even = traced)
    so the run can report its own tracing overhead; the tracer records
    only during traced passes."""
    run.tracer.enabled = run.trace and i % 2 == 0
    return run.tracer.enabled


def _keep_going(run: Run, t_start: float, n_done: int) -> bool:
    if time.perf_counter() - t_start < run.seconds:
        return True
    # a traced run brackets a traced pass with untraced ones
    return run.trace and n_done < 3


# --- survey ------------------------------------------------------------------


def _survey_pass(analysis, spark, catalog) -> None:
    analysis.run(spark, catalog)


def survey(run: Run) -> None:
    """The paper's job through the ``pipeline/cli.py run`` path:
    load_analysis_files → combine_run_config → Analysis.run into a
    parquet sink, on a seeded synthetic catalog."""
    from cosmap_spark.pipeline import manage
    from cosmap_spark.pipeline.analysis import Analysis
    from cosmap_spark.pipeline.config import combine_run_config

    spark, cfg = run.spark, SURVEY
    t0 = time.perf_counter()
    data = gen.cached(
        run.data_root, "catalog", run.seed, str(cfg["n_objects"]),
        lambda d: gen.catalog(d, run.seed, cfg["n_objects"], cfg["patch"],
                              n_files=2 * run.cores),
    )
    run.setup["setup.generate_s"] = time.perf_counter() - t0
    base = manage.load_analysis_files(
        os.path.join(run.root, "examples", "quickstart"))
    catalog = spark.read.parquet(os.path.join(data, "catalog"))
    out = os.path.join(run.work_dir, "survey_out")

    def analysis(i: int):
        run_config = {
            "base-analysis": "quickstart",
            "sampling_parameters": {
                "n_samples": cfg["n_samples"],
                "sample_dimensions": {"value": cfg["radius_arcmin"],
                                      "units": "arcmin"},
                "ra_bounds": list(cfg["patch"]["ra"]),
                "dec_bounds": list(cfg["patch"]["dec"]),
                "seed": run.seed * 1000 + i,
            },
            "output_parameters": {"path": out, "format": "parquet",
                                  "mode": "overwrite"},
        }
        return Analysis(combine_run_config(base["parameters"], run_config),
                        base["transformations"], base["implementations"])

    t0 = time.perf_counter()
    with run.tracer.span("survey.warm"):
        for i in range(cfg["warm_passes"]):
            _survey_pass(analysis(-i), spark, catalog)
    run.setup["setup.warm_s"] = time.perf_counter() - t0
    run.attempted += cfg["warm_passes"]

    plain, traced = [], []
    t_start, i = time.perf_counter(), 0
    while _keep_going(run, t_start, i):
        i += 1
        a = analysis(i)
        if _traced_turn(run, i):
            with run.tracer.span("pipeline.run"):
                run.timed(_survey_pass, a, spark, catalog)
            traced.append(run.passes[-1])
            _survey_probes(run, a, catalog)
        else:
            run.timed(_survey_pass, a, spark, catalog)
            plain.append(run.passes[-1])
        run.units += cfg["n_samples"]
        run.attempted += 1
    run.timed_wall = time.perf_counter() - t_start
    if run.trace:
        run.layers["trace.overhead_ratio"] = _median(traced) / _median(plain)
    _check_survey(run, a, catalog, out)


def _survey_probes(run: Run, analysis, catalog) -> None:
    """Traced run only: the pass's layers timed alone, each into noop."""
    from pyspark.sql import functions as F

    from cosmap_spark.operators.cone_search import cone_search

    spark, tr = run.spark, run.tracer
    t0 = time.perf_counter()
    with tr.span("pipeline.build"):
        df = analysis.build(spark, catalog)
    run.layers.setdefault("pipeline.build_s", []).append(
        time.perf_counter() - t0)
    t0 = time.perf_counter()
    with tr.span("spark.plan"):
        df._jdf.queryExecution().executedPlan()
    run.layers.setdefault("spark.plan_s", []).append(time.perf_counter() - t0)
    samples = _samples(spark, analysis)
    t0 = time.perf_counter()
    with tr.span("operators.sampler"):
        _noop(samples)
    run.layers.setdefault("operators.sampler.s", []).append(
        time.perf_counter() - t0)
    joined = cone_search(catalog, samples)
    t0 = time.perf_counter()
    with tr.span("operators.cone_search"):
        _noop(joined)
    run.layers.setdefault("operators.cone_search.s", []).append(
        time.perf_counter() - t0)
    pairs = joined.agg(F.count(F.lit(1))).collect()[0][0]
    run.layers.setdefault("operators.cone_search.pairs", []).append(pairs)


def _samples(spark, analysis):
    """The pass's sample cones, drawn as Analysis.build draws them."""
    from cosmap_spark.operators.sampler import uniform_sphere_samples

    sp = analysis.config.sampling_parameters
    return uniform_sphere_samples(
        spark, sp.n_samples, seed=sp.seed, radius_deg=sp.sample_dimensions,
        ra_bounds=tuple(sp.ra_bounds), dec_bounds=tuple(sp.dec_bounds),
    )


def _check_survey(run: Run, analysis, catalog, out: str) -> None:
    """The last pass's sink against a brute-force theta-join on a seeded
    subset of its samples: ``n_objects`` and ``total_arcsec`` must be
    exactly equal."""
    from pyspark.sql import functions as F

    from cosmap_spark.operators.cone_search import cone_search_bruteforce

    spark = run.spark
    n = analysis.config.sampling_parameters.n_samples
    ids = random.Random(run.seed).sample(range(n), SURVEY["check_samples"])
    min_radius = analysis.config.analysis_parameters["min_radius"]
    samples = _samples(spark, analysis).where(F.col("sample_id").isin(ids))
    pairs = cone_search_bruteforce(catalog.select("ra", "dec"), samples)
    want = {
        r["sample_id"]: (r["n_objects"], r["total_arcsec"])
        for r in pairs.where(F.col("sep_deg") > min_radius)
        .groupBy("sample_id")
        .agg(F.count(F.lit(1)).alias("n_objects"),
             F.round(F.sum(F.col("sep_deg") * 3600.0), 4).alias("total_arcsec"))
        .collect()
    }
    got = {
        r["sample_id"]: (r["n_objects"], r["total_arcsec"])
        for r in spark.read.parquet(out)
        .where(F.col("sample_id").isin(ids)).collect()
    }
    rows = spark.read.parquet(out).agg(F.count(F.lit(1))).collect()[0][0]
    run.check(got == want and bool(want), f"survey cones {got} vs {want}")
    run.check(0 < rows <= n, f"survey sink holds {rows} rows for {n} samples")


# --- ledger ------------------------------------------------------------------


def ledger_names() -> list[str]:
    with open(os.path.join(HERE, "ledger_queries.json")) as f:
        return json.load(f)


def _ledger_query(run: Run, fn, name: str, data: str) -> tuple[float, float]:
    """Build one query, then write it to noop; returns (build, exec)
    seconds.  A traced call also forces the executed plan in between."""
    tr = run.tracer
    with tr.span(f"ledger.{name}") as rec:
        t0 = time.perf_counter()
        with tr.span(f"ledger.{name}.build"):
            df = fn(run.spark, data)
        t1 = time.perf_counter()
        if tr.enabled:
            with tr.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
            run.layers.setdefault("spark.plan_s", []).append(
                time.perf_counter() - t1)
            t1 = time.perf_counter()
        with tr.span(f"ledger.{name}.exec"):
            _noop(df)
        t2 = time.perf_counter()
        rec["build_s"], rec["exec_s"] = t1 - t0, t2 - t1
    return t1 - t0, t2 - t1


def _ledger_pass(run: Run, queries, names, data) -> dict:
    return {q: _ledger_query(run, queries[q], q, data) for q in names}


def ledger(run: Run) -> None:
    """The frozen headline query list, each built then written to noop,
    on a seeded star schema.  The untimed warm pass collects every query
    and compares it with its DuckDB oracle."""
    from cosmap_spark.queries import all_queries

    names = ledger_names()
    t0 = time.perf_counter()
    data = gen.cached(run.data_root, "ledger", run.seed, f"sf{LEDGER_SF}",
                      lambda d: gen.ledger_tables(d, run.seed, LEDGER_SF))
    run.setup["setup.generate_s"] = time.perf_counter() - t0
    queries = all_queries()

    t0 = time.perf_counter()
    with run.tracer.span("ledger.warm"):
        _ledger_oracle_pass(run, queries, names, data)
    run.setup["setup.warm_s"] = time.perf_counter() - t0
    _check_resample_plan(run, queries, data)

    plain, traced, per_query = [], [], []
    t_start, i = time.perf_counter(), 0
    while _keep_going(run, t_start, i):
        i += 1
        if _traced_turn(run, i):
            with run.tracer.span("ledger.pass"):
                per_query.append(run.timed(_ledger_pass, run, queries, names,
                                           data))
            traced.append(run.passes[-1])
        else:
            run.timed(_ledger_pass, run, queries, names, data)
            plain.append(run.passes[-1])
        run.units += len(names)
        run.attempted += len(names)
    run.timed_wall = time.perf_counter() - t_start
    if run.trace:
        run.layers["trace.overhead_ratio"] = _median(traced) / _median(plain)
        for q in names:
            run.layers[f"ledger.{q}.build_s"] = _median(
                [p[q][0] for p in per_query])
            run.layers[f"ledger.{q}.exec_s"] = _median(
                [p[q][1] for p in per_query])


def _ledger_oracle_pass(run: Run, queries, names, data) -> None:
    """Collect every query (a full evaluation that also warms the JVM)
    and compare it with its DuckDB oracle through the parity gate's own
    check, ``tests/test_parity.py::test_query_parity`` (every listed
    query has an oracle, so every one must be hash-exact).  Untimed, so
    queries run :data:`WARM_THREADS` at a time."""
    import duckdb

    os.environ["COSMAP_TEST_SF_DIR"] = data
    from cosmap_spark.tables import TABLES
    from tests.test_parity import test_query_parity

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")

    def check(q: str) -> str | None:
        cur = con.cursor()
        try:
            test_query_parity(q, run.spark, cur)
        except AssertionError as e:
            return str(e)[:300]
        finally:
            cur.close()
        return None

    try:
        with ThreadPoolExecutor(WARM_THREADS) as pool:
            for q, err in zip(names, pool.map(check, names)):
                run.attempted += 1
                run.check(err is None, f"{q}: {err}")
    finally:
        con.close()


def resample_plan(queries, spark, data) -> str:
    """Optimized plan of q_resample as the timed path evaluates it."""
    df = queries["q_resample"](spark, data)
    return df._jdf.queryExecution().optimizedPlan().toString()


def _check_resample_plan(run: Run, queries, data) -> None:
    """The timed q_resample plan keeps its Window and Join — the nodes
    ``.count()`` prunes away."""
    plan = resample_plan(queries, run.spark, data)
    run.attempted += 1
    run.check("Window" in plan and "Join" in plan,
              "q_resample plan lost its Window or Join")


# --- commit_log --------------------------------------------------------------


def _commit_cycle(run: Run, store: str, batch_path: str) -> tuple:
    """One commit: mor_append a batch, mor_read the view into noop,
    mor_maintain.  Returns (append, read, maintain) seconds and the
    maintain report."""
    from cosmap_spark.sinks.mor import mor_append, mor_maintain, mor_read

    spark, tr = run.spark, run.tracer
    t0 = time.perf_counter()
    with tr.span("sinks.mor.append"):
        mor_append(spark, store, spark.read.parquet(batch_path))
    t1 = time.perf_counter()
    with tr.span("sinks.mor.read"):
        view = mor_read(spark, store)
        _noop(view)
    t2 = time.perf_counter()
    with tr.span("sinks.mor.maintain"):
        report = mor_maintain(spark, store,
                              compact_after=COMMIT["compact_after"])
    t3 = time.perf_counter()
    return t1 - t0, t2 - t1, t3 - t2, report


def commit_log(run: Run) -> None:
    """Writes beside reads on a merge-on-read result store created with
    ``mor_init``'s default backend: each commit appends a 2,000-row batch
    (updates, inserts, tombstones), reads the view and maintains."""
    from cosmap_spark.sinks.mor import mor_init, mor_read

    spark, cfg = run.spark, COMMIT
    t0 = time.perf_counter()
    data = gen.cached(
        run.data_root, "mor", run.seed, f"{cfg['n_base']}x{cfg['n_batches']}",
        lambda d: gen.mor_inputs(d, run.seed, cfg["n_base"],
                                 cfg["n_batches"], cfg["updates"],
                                 cfg["inserts"], cfg["deletes"]),
    )
    run.setup["setup.generate_s"] = time.perf_counter() - t0
    batches = sorted(os.listdir(os.path.join(data, "batches")))
    store = os.path.join(run.work_dir, "store")

    def batch(i: int) -> str:
        return os.path.join(data, "batches", batches[i])

    # untimed: commits up to and including the first compaction.  The
    # JVM is still compiling the commit path over about that many
    # commits; windows timed on that slope disagreed between runs.
    t0 = time.perf_counter()
    i = -1
    with run.tracer.span("commit_log.warm"):
        mor_init(spark.read.parquet(os.path.join(data, "base.parquet")),
                 store, ["sample_id"])
        while True:
            i += 1
            run.attempted += 1
            if _commit_cycle(run, store, batch(i))[3]["compacted_epochs"]:
                break
    run.setup["setup.warm_s"] = time.perf_counter() - t0

    # timed: the commits up to and including the next compaction, so
    # every window holds the same commits and the same single stall
    plain, traced, cycles = [], [], []
    t_start = time.perf_counter()
    while not cycles or not cycles[-1][3]["compacted_epochs"]:
        i += 1
        if i == len(batches):
            raise RuntimeError("commit_log ran out of generated batches")
        if _traced_turn(run, len(cycles) + 1):
            before = _du(store)
            with run.tracer.span("commit_log.commit"):
                cycle = run.timed(_commit_cycle, run, store, batch(i))
            traced.append(run.passes[-1])
            _commit_counts(run, store, before, cycle[3])
        else:
            cycle = run.timed(_commit_cycle, run, store, batch(i))
            plain.append(run.passes[-1])
        cycles.append(cycle)
        run.units += 1
        run.attempted += 1
    run.timed_wall = time.perf_counter() - t_start

    if run.trace:
        run.layers["trace.overhead_ratio"] = _median(traced) / _median(plain)
        run.layers["sinks.mor.append_s"] = _median([c[0] for c in cycles])
        run.layers["sinks.mor.read_s"] = _median([c[1] for c in cycles])
        run.layers["sinks.mor.maintain_s"] = _median([c[2] for c in cycles])
        run.layers["sinks.mor.compactions"] = sum(
            1 for c in cycles if c[3]["compacted_epochs"])
        view = mor_read(spark, store)
        once = os.path.join(run.work_dir, "view_once")
        view.write.parquet(once)
        run.layers["sinks.mor.space_amp"] = _du(store) / _du(once)
        shutil.rmtree(once)
    _check_commit_log(run, data, batches[: i + 1], store)


def _commit_counts(run: Run, store: str, before: int, report: dict) -> None:
    """Traced commits: bytes the commit added (commits that compacted
    rewrite the store and are left out) and files the next read lists."""
    from cosmap_spark.sinks.mor import mor_read

    if not report["compacted_epochs"]:
        run.layers.setdefault("sinks.mor.bytes_written", []).append(
            _du(store) - before)
    run.layers.setdefault("sinks.mor.read_files", []).append(
        len(mor_read(run.spark, store).inputFiles()))


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _check_commit_log(run: Run, data: str, applied: list, store: str) -> None:
    """The final view must equal a keyed replay of every applied batch,
    done in plain Python."""
    import pyarrow.parquet as pq

    from cosmap_spark.sinks.mor import mor_read

    cols = gen.MOR_COLUMNS

    def rows(path: str) -> list:
        t = pq.read_table(path).to_pydict()
        dels = t.get("__deleted", [False] * len(t["sample_id"]))
        return [(tuple(t[c][j] for c in cols), d) for j, d in enumerate(dels)]

    want = {r[0]: r for r, _ in rows(os.path.join(data, "base.parquet"))}
    for b in applied:
        for r, deleted in rows(os.path.join(data, "batches", b)):
            if deleted:
                want.pop(r[0], None)
            else:
                want[r[0]] = r
    got_pd = mor_read(run.spark, store).select(*cols).toPandas()
    got = {r[0]: r for r in got_pd.itertuples(index=False, name=None)}
    run.check(got == want, f"commit_log view differs from replay "
                           f"({len(got)} vs {len(want)} keys)")


WORKLOADS = {"survey": survey, "ledger": ledger, "commit_log": commit_log}
