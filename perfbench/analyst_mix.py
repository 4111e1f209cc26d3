"""analyst_mix: one closed-loop client running oracle-checked registry
queries over the bundled sf0.01 corpus (perfbench/data, a copy of the
seed-42 synthetic corpus in TESTDATA.md that the engine's parity tests use
at that scale).

Read-only, no video: Catalyst/AQE, JVM and Python-UDF operators only. It
guards the shared session config (shuffle partitions, Arrow batch size,
AQE) against streaming or pixel changes that would tax every query.
"""

from __future__ import annotations

import hashlib
import math
import pickle
import random
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from perfbench import common

SF_DIR = common.BENCH_DIR / "data"
MIX = (
    "uav_class_stats", "uav_frames_detections_join", "uav_segment_stats",
    "uav_detection_rank", "tpch_q3_priority", "tpch_q5_region_revenue",
    "tpch_q18_large_volume", "ev_session_windows", "ev_asof_clicks_views",
    "dedup_minhash_neardups", "text_tfidf_top_terms", "text_bm25_topk",
    "emb_knn_bruteforce", "emb_ann_lsh",
)
# operator module each query's builder calls into, by name prefix
MODULE = {"uav": "uav_core", "tpch": "relational", "ev": "events_ops",
          "dedup": "dedup", "text": "text", "emb": "similarity"}
MIN_PASSES = 2
# the highest percentile that leaves ten of the smallest window's queries
# beyond it
TAIL_PCT = common.tail_percentile(MIN_PASSES * len(MIX))
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


def canonical(columns, rows):
    """Order-insensitive, column-order-insensitive form of a result."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    return (sorted(columns),
            sorted((tuple(_norm(r[i]) for i in idx) for r in rows), key=repr))


def oracle_results(sf_dir: Path) -> tuple[dict, bool]:
    """DuckDB's results for the mix, cached per checkout under a key of the
    DuckDB version, the mix's oracle SQL and the corpus bytes. Returns
    (results, cache hit)."""
    import duckdb

    from uav_streamprocessor_spark import registry

    sql = registry.oracle_sql()
    h = hashlib.sha256(duckdb.__version__.encode())
    for name in MIX:
        h.update(f"{name}\0{sql[name]}\0".encode())
    for t in TABLES:
        h.update((sf_dir / f"{t}.parquet").read_bytes())
    cached = common.CACHE_DIR / f"oracle-{h.hexdigest()[:16]}.pickle"
    if cached.exists():
        return pickle.loads(cached.read_bytes()), True
    out = _run_oracle(sf_dir, sql)
    tmp = cached.with_name(f"{cached.name}.tmp{time.time_ns()}")
    tmp.parent.mkdir(parents=True, exist_ok=True)
    tmp.write_bytes(pickle.dumps(out))
    tmp.replace(cached)
    return out, False


def _run_oracle(sf_dir: Path, sql: dict) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name in MIX:
            rel = con.sql(sql[name])
            out[name] = canonical(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


class Mix:
    """The mix on a running session: fixture registration, the untimed
    warm pass, and oracle-checked executions of single queries."""

    def __init__(self, spark, tracer):
        from uav_streamprocessor_spark import fixtures, registry

        if not SF_DIR.is_dir():
            raise FileNotFoundError(f"analyst corpus missing: {SF_DIR}")
        self.spark, self.tracer = spark, tracer
        self.builders = registry.queries()
        self.jobs = common.JobCounter(spark)
        with tracer.span("fixtures.register"):
            t = time.perf_counter()
            fixtures.register_uav_views(spark, str(SF_DIR))
            self.register_s = time.perf_counter() - t
        self.oracle = None

    def warm(self) -> None:
        """The untimed first pass. It only pays one-time costs (fixture
        caching, codegen, Python workers), so it runs nproc queries at a
        time."""

        def first(name: str) -> None:
            self.builders[name](self.spark, str(SF_DIR)).collect()

        with self.tracer.span("analyst.warm"), \
                ThreadPoolExecutor(common.cpu_count()) as pool:
            list(pool.map(first, MIX))

    def load_oracle(self) -> str:
        t = time.perf_counter()
        self.oracle, hit = oracle_results(SF_DIR)
        return (f"oracle results {'read from cache' if hit else 'computed'} in "
                f"{time.perf_counter() - t:.2f} s (untimed)")

    def execute(self, name: str) -> dict:
        tracer, jobs = self.tracer, self.jobs
        group = jobs.new_group(name)
        with tracer.span("registry.query", query=name), jobs.group(group):
            t0 = time.perf_counter()
            with tracer.span("registry.build", query=name):
                df = self.builders[name](self.spark, str(SF_DIR))
            t1 = time.perf_counter()
            with tracer.span("registry.action", query=name):
                rows = df.collect()
            t2 = time.perf_counter()
        return {"name": name, "build": t1 - t0, "action": t2 - t1,
                "latency": t2 - t0, "counts": jobs.counts(group),
                "ok": canonical(df.columns, rows) == self.oracle[name]}

    def window(self, seconds: float, rng: random.Random, passes: int) -> list[dict]:
        """Whole shuffled passes until `seconds` have passed and at least
        `passes` have run."""
        done, start = [], time.perf_counter()
        while len(done) < passes * len(MIX) or time.perf_counter() - start < seconds:
            order = list(MIX)
            rng.shuffle(order)
            done.extend(self.execute(name) for name in order)
        return done


def layer_metrics(results: list[dict]) -> dict:
    """registry, operators and per-query Spark metrics of executed queries."""
    by_module = {m: [] for m in MODULE.values()}
    for r in results:
        by_module[MODULE[r["name"].split("_", 1)[0]]].append(r["latency"])
    failed = sum(1 for r in results if not r["ok"])
    return {
        "registry.build_s": (common.median([r["build"] for r in results]), "s"),
        "registry.action_s": (common.median([r["action"] for r in results]), "s"),
        **{f"operators.{m}_s": (common.median(v), "s") for m, v in by_module.items()},
        "spark.jobs_per_query": (
            common.median([r["counts"]["jobs"] for r in results]), "count"),
        "spark.tasks_per_query": (
            common.median([r["counts"]["tasks"] for r in results]), "count"),
        "spark.failed_tasks": (
            sum(r["counts"]["failed_tasks"] for r in results), "count"),
        "analyst.failed_ratio": (common.failed_ratio(0, 0, failed, len(results)), "ratio"),
    }


def probe(spark, tracer, seed: int) -> tuple[dict, list[dict], list[str]]:
    """The mix as a traced probe inside another workload's session: register,
    warm, then one timed pass. Returns (per-layer metrics, results, notes)."""
    with tracer.span("analyst.probe"):
        mix = Mix(spark, tracer)
        mix.warm()
        notes = [mix.load_oracle()]
        results = mix.window(0.0, random.Random(seed), passes=1)
    metrics = layer_metrics(results)
    metrics["fixtures.register_s"] = (mix.register_s, "s")
    bad = sorted({r["name"] for r in results if not r["ok"]})
    if bad:
        notes.append(f"analyst probe oracle mismatch: {bad}")
    return metrics, results, notes


def run(args, tracer, run_dir: Path):
    notes = []
    t_setup = time.perf_counter()
    with tracer.span("session.start"):
        t = time.perf_counter()
        spark = common.start_session(run_dir)
        session_s = time.perf_counter() - t
    try:
        mix = Mix(spark, tracer)
        mix.warm()
        setup_s = time.perf_counter() - t_setup
        notes.append(mix.load_oracle())

        rng = random.Random(args.seed)
        tracer_was = tracer.enabled
        tracer.enabled = False
        untraced = mix.window(args.seconds, rng, MIN_PASSES)
        traced = []
        if args.trace:
            tracer.enabled = tracer_was
            traced = mix.window(args.seconds, rng, MIN_PASSES)
    finally:
        common.stop_session(spark)

    def e2e(rs):
        lat = [r["latency"] for r in rs]
        tail, ok = common.tail_latency(lat, TAIL_PCT)
        return {"latency_p50_s": common.median(lat), "latency_tail_s": tail,
                "throughput_per_s": len(rs) / sum(lat), "_ok": ok}

    results = untraced + traced
    bad = sorted({r["name"] for r in results if not r["ok"]})
    failed = sum(1 for r in results if not r["ok"])
    if bad:
        notes.append(f"oracle mismatch: {bad}")
    base = e2e(untraced)
    notes.append(
        f"queries={len(untraced)} passes={len(untraced) // len(MIX)} "
        f"tail=p{TAIL_PCT}{'' if base['_ok'] else ' (fewer than ten samples beyond)'}")
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (base["latency_p50_s"], "s"),
        "latency_tail_s": (base["latency_tail_s"], "s"),
        "throughput_per_s": (base["throughput_per_s"], "1/s"),
    }
    if not args.trace:
        return failed == 0, len(results), failed, metrics, notes

    from perfbench import tracing

    layer = tracing.overhead(base, e2e(traced))
    layer.update(layer_metrics(traced))
    layer.update({
        "session.start_s": (session_s, "s"),
        "fixtures.register_s": (mix.register_s, "s"),
        "analyst.failed_ratio": (common.failed_ratio(0, 0, failed, len(results)), "ratio"),
    })
    return failed == 0, len(results), failed, layer, notes
