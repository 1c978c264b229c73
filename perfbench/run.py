#!/usr/bin/env python3
"""Benchmark of record: seeded closed-loop workloads over the engine.

    python3 perfbench/run.py --workload etl_jhu_wide --seed 1 --seconds 8 --trace 0

One process, one client, ``local[<nproc>]``.  A run generates its inputs
from ``--seed`` (untimed), starts the session nine times (``setup_s``
is the median), runs one cold pass (the first execution of every
operation in the process), then repeats warm passes until ``--seconds``
have elapsed and at least two have run.  Output checks run after the timed region;
any failure makes ``correct`` false and the exit code 1.  The last
stdout line is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (event log,
spans and a streaming listener on).  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import pickle
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(ROOT, "jhu_data_parser_spark")

# etl_jhu_wide sizes: the JHU global feed's location count, and a date
# window narrow enough that several warm passes fit in a run (driver
# plan build grows with the number of date columns).
ETL_LOCATIONS, ETL_DATES = 3300, 12
MIX_SF = 0.01  # catalog_mix scale factor: lineitem 60k rows
SETUP_REPEATS = 9
# Warm passes still speed up as the JIT settles (the ETL's third pass runs
# ~25% under its first), so every run should time the same number of
# them: at least two, more only while --seconds has not elapsed.
MIN_WARM_PASSES = 2
LOAD1_CONTENDED = 2.0  # bench.py's SPARK_GRAFT_LOAD1_MAX default

# catalog_mix: (query, operator group).  plans.core holds the relational
# entries of plans/core, windows, reshape and streaming_batch.
MIX_OPS = [
    ("join_revenue_by_nation", "plans.core"),
    ("source_delta_merge_upsert", "sources.delta_lite"),
    ("dedup_exact_groups", "operators.dedup"),
    ("text_rolling_fingerprints", "operators.text"),
    ("sim_cosine_topk_ivf", "operators.similarity"),
    ("pipeline_pack_batches", "plans.pipeline13"),
    ("stream_availablenow_daily", "plans.core"),
    ("stream_availablenow_sessions", "plans.core"),
]
GROUPS = ["plans.core", "sources.delta_lite", "operators.dedup", "operators.text",
          "operators.similarity", "plans.pipeline13", "etl"]
GROUP_FIELDS = ["exec_s", "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                "scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "python_bytes", "sched_gap_s"]
OP_TABLE = ["build_s", "exec_s", "jobs", "python_bytes"]
STREAM_LAYERS = ["streaming.stateful", "streaming.jobs"]
STREAM_FIELDS = ["batches", "addBatch_ms", "walCommit_ms", "commitOffsets_ms",
                 "queryPlanning_ms", "latestOffset_ms", "gap_ms", "jobs_per_batch",
                 "state_rows", "state_mem_bytes"]
# Public functions spanned in the traced run, by layer (module path).
SPANNED = {
    "sources.csv_source": ["read_csv_dictreader", "read_csv_with_file_order"],
    "operators.reshape": ["wide_to_nested", "zip_to_nested"],
    "etl": ["load_lookup", "enrich_country_lookup", "category_pipeline", "combined_pipeline"],
    "sink": ["write_partitioned_json", "write_flat_json"],
    "sources.lake": ["read_partitioned_lake"],
    "streaming.jobs": ["run_daily_counts_availablenow"],
    "streaming.stateful": ["run_builtin_session_windows"],
}


def per_layer_names() -> list[str]:
    names = ["session.start_s", "sources.csv_source.read_s", "sources.csv_source.jobs",
             "operators.reshape.plan_s", "etl.plan_s", "etl.enrich_plan_s",
             "sink.write_s", "sink.commit_s", "sink.bytes_out", "sink.files_out",
             "sources.lake.read_s", "sources.lake.query_s", "sources.lake.files_read_ratio",
             "plans.build_s", "plans.build_s.cold", "plans.eager_jobs", "trace.pass_s.p50"]
    names += [f"{g}.{f}" for g in GROUPS for f in GROUP_FIELDS]
    names += [f"{s}.{f}" for s in STREAM_LAYERS for f in STREAM_FIELDS]
    return names


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

class EtlWorkload:
    """The reference's daily traffic: wide JHU CSVs -> nested JSON lakes,
    then Athena-style reads of the partitioned lake."""

    name = "etl_jhu_wide"

    def __init__(self, work: str, seed: int):
        import jhu

        self.jhu = jhu
        self.gen = jhu.generate(os.path.join(work, "in"), seed, ETL_LOCATIONS, ETL_DATES)
        self.out = os.path.join(work, "out")
        self.cells = ETL_LOCATIONS * ETL_DATES * len(jhu.CATEGORIES)
        self.sample_seed = seed

    def group(self, op: str) -> str:
        return "etl"

    def ops(self, spark, collect: bool, rec):
        from jhu_data_parser_spark import etl, sink
        from jhu_data_parser_spark.sources import lake

        paths = self.gen["paths"]
        lake_dir, flat_dir = os.path.join(self.out, "lake"), os.path.join(self.out, "flat")
        cats = {c: paths[c] for c in self.jhu.CATEGORIES}

        def category():
            df = etl.category_pipeline(spark, cats, paths["lookup"])
            sink.write_partitioned_json(df, lake_dir)

        def combined():
            df = etl.combined_pipeline(spark, paths["confirmed"], paths["deaths"],
                                       paths["recovered"], paths["lookup"])
            sink.write_flat_json(df, flat_dir)

        def read_lake():
            lake.read_partitioned_lake(spark, lake_dir).createOrReplaceTempView("covid")

        def query(sql):
            return lambda: [tuple(r) for r in spark.sql(sql).collect()]

        return [
            ("etl_category", category),
            ("etl_combined", combined),
            ("lake_read", read_lake),
            ("lake_top_confirmed", query(
                "SELECT `country/region`, sum(element_at(time_series, -1).value) AS latest "
                "FROM covid WHERE type = 'confirmed' GROUP BY 1 "
                "ORDER BY latest DESC, 1 LIMIT 10")),
            ("lake_deaths_by_day", query(
                "SELECT e.date, sum(e.value) FROM covid "
                "LATERAL VIEW explode(time_series) t AS e "
                "WHERE type = 'deaths' GROUP BY e.date ORDER BY e.date")),
            ("lake_recovered_unmatched", query(
                "SELECT count(*) FROM covid "
                "WHERE type = 'recovered' AND `country-iso2` IS NULL")),
        ]

    def lake_files(self) -> list[str]:
        return _part_files(os.path.join(self.out, "lake"))

    def output_stats(self) -> tuple[int, int]:
        files = self.lake_files() + _part_files(os.path.join(self.out, "flat"))
        return len(files), sum(os.path.getsize(f) for f in files)

    def oracle_sql(self) -> dict[str, str]:
        return {}

    def check(self, results: dict, oracle_rows: dict) -> list[str]:
        """Record counts of both lakes, a seeded sample of records against
        the fix_record twin, and the lake queries against the twin."""
        jhu, gen, bad = self.jhu, self.gen, []
        lake: dict[str, dict] = {c: {} for c in jhu.CATEGORIES}
        for path in self.lake_files():
            cat = path.split("type=")[1].split(os.sep)[0]
            for rec in _json_lines(path):
                lake[cat][(rec["country/region"], rec["province/state"])] = rec
        flat = {(r["country/region"], r["province/state"]): r
                for p in _part_files(os.path.join(self.out, "flat")) for r in _json_lines(p)}
        rng = random.Random(self.sample_seed)
        for cat in jhu.CATEGORIES:
            if len(lake[cat]) != len(gen["facts"][cat]):
                bad.append(f"lake type={cat}: {len(lake[cat])} records, "
                           f"expected {len(gen['facts'][cat])}")
            for key in rng.sample(sorted(gen["facts"][cat]), 25):
                if lake[cat].get(key) != jhu.fix_record(gen, cat, key):
                    bad.append(f"lake type={cat} record {key} differs from fix_record")
        if len(flat) != len(gen["facts"]["confirmed"]):
            bad.append(f"flat lake: {len(flat)} records, "
                       f"expected {len(gen['facts']['confirmed'])}")
        for key in rng.sample(sorted(gen["facts"]["confirmed"]), 25):
            if flat.get(key) != jhu.fix_record_combined(gen, key):
                bad.append(f"flat record {key} differs from the parser2 twin")

        latest: dict[str, int] = {}
        for (country, _), (_, _, series) in gen["facts"]["confirmed"].items():
            latest[country] = latest.get(country, 0) + series[-1]
        top = sorted(latest.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        per_day = [0] * ETL_DATES
        for _, _, series in gen["facts"]["deaths"].values():
            per_day = [a + b for a, b in zip(per_day, series)]
        days = [jhu.iso_day(d) for d in gen["dates"]]
        unmatched = sum(1 for (country, _) in gen["facts"]["recovered"]
                        if country not in gen["lookup"])
        expected = {
            "lake_top_confirmed": [tuple(kv) for kv in top],
            "lake_deaths_by_day": list(zip(days, per_day)),
            "lake_recovered_unmatched": [(unmatched,)],
        }
        for name, want in expected.items():
            for i, got in enumerate(results.get(name, [])):
                if got != want:
                    bad.append(f"{name} (pass {i}) differs from the twin")
        return bad


class MixWorkload:
    """Catalog queries over seeded star/documents/embeddings/events tables:
    star SQL, a Delta-lite merge, curation and ANN operators with Python
    UDFs and artifact caches, and two availableNow streams."""

    name = "catalog_mix"

    def __init__(self, work: str, seed: int):
        import star

        self.data = star.generate(os.path.join(work, "in"), seed, MIX_SF)
        self.event_rows = star.row_counts(MIX_SF)["events"]
        self.groups = dict(MIX_OPS)
        self.order = [name for name, _ in MIX_OPS]  # the seed sets the query order
        random.Random(seed).shuffle(self.order)

    def group(self, op: str) -> str:
        return self.groups[op]

    def ops(self, spark, collect: bool, rec):
        from jhu_data_parser_spark import plans

        queries, sf_dir = plans.get_queries(), self.data

        def run(name):
            def op():
                with rec.span(f"plans.{name}", "plans"):
                    df = queries[name](spark, sf_dir)
                if collect:
                    return df.columns, df.collect()
                df.write.format("noop").mode("overwrite").save()
            return op

        return [(name, run(name)) for name in self.order]

    def output_stats(self) -> tuple[int, int]:
        return 0, 0

    def oracle_sql(self) -> dict[str, str]:
        from jhu_data_parser_spark import plans

        oracles = plans.get_oracles()
        return {name: oracles[name] for name, _ in MIX_OPS if name in oracles}

    def check(self, results: dict, oracle_rows: dict) -> list[str]:
        """DuckDB oracle value hash (``tests/oracle_compare.py``) for every
        query that has one, a non-empty result for the rest."""
        import oracle_compare

        oracles, bad = self.oracle_sql(), []
        for name, (columns, rows) in results.items():
            if name not in oracles:
                if not rows:
                    bad.append(f"{name}: empty result")
                continue
            res = oracle_compare.compare(_Rows(columns, rows), _Oracle(oracle_rows),
                                         oracles[name])
            if not res["values_match"]:
                bad.append(f"{name}: differs from its DuckDB oracle "
                           f"(rows {res['rows_spark']} vs {res['rows_duck']})")
        return bad


class _Rows:
    """Collected rows in the two shapes ``oracle_compare.compare`` reads:
    a DataFrame (``collect``) and a DuckDB relation (``fetchall``)."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows

    fetchall = collect


class _Oracle:
    """A DuckDB connection whose query results were computed earlier."""

    def __init__(self, rows: dict):
        self.rows = rows

    def sql(self, sql: str) -> _Rows:
        rows, columns = self.rows[sql]
        return _Rows(columns, rows)


WORKLOADS = {w.name: w for w in (EtlWorkload, MixWorkload)}


def _part_files(root: str) -> list[str]:
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.startswith("part-")]
    return sorted(out)


def _json_lines(path: str):
    with open(path) as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


# ---------------------------------------------------------------------------
# Harness
# ---------------------------------------------------------------------------

class NullRecorder:
    def span(self, name, layer):
        return contextlib.nullcontext()


def start_session(work: str, trace: bool):
    from jhu_data_parser_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def run_pass(ops, rec, op_times: dict, errors: list):
    """One closed-loop pass; a failing operation is recorded, not fatal."""
    results = {}
    t0 = time.perf_counter()
    for name, fn in ops:
        s = time.perf_counter()
        try:
            with rec.span(name, "op"):
                results[name] = fn()
        except Exception as exc:  # noqa: BLE001  (the run reports it and goes on)
            traceback.print_exc()
            errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
        op_times.setdefault(name, []).append(time.perf_counter() - s)
    return time.perf_counter() - t0, results


def tail(samples: list[float]) -> tuple[float | None, int]:
    """Highest percentile with at least ten samples beyond it."""
    n = len(samples)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return statistics.quantiles(samples, n=100, method="inclusive")[p - 1], p
    return None, 0


def run(args, work: str) -> dict:
    from pyspark import SparkContext

    import tracing as tr

    load1 = os.getloadavg()[0]
    t_gen = time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed)
    gen_s = time.perf_counter() - t_gen

    # The oracle queries run in a child process while the JVM launches.
    # That launch is the slowest setup sample either way, so the median
    # (setup_s) does not see the overlap.
    sqls, oracle, oracle_rows = list(wl.oracle_sql().values()), None, {}
    if sqls:
        oracle = subprocess.Popen([sys.executable, os.path.join(HERE, "oracle.py"), wl.data],
                                  stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    setups, sessions = [], []
    for i in range(SETUP_REPEATS):
        if sessions:
            sessions[-1].stop()
        t0 = time.perf_counter()
        sessions.append(start_session(work, args.trace))
        setups.append(time.perf_counter() - t0)
        if i == 0 and oracle is not None:
            raw, _ = oracle.communicate(json.dumps(sqls).encode())
            if oracle.returncode != 0:
                raise RuntimeError(f"oracle process exited with {oracle.returncode}")
            oracle_rows = pickle.loads(raw)
    spark = sessions[-1]
    jpid = jvm_pid(spark)

    rec: tr.SpanRecorder | NullRecorder = NullRecorder()
    listener = None
    if args.trace:
        rec = tr.SpanRecorder()
        from jhu_data_parser_spark import etl, plans, sink  # noqa: F401  (load layers)
        from jhu_data_parser_spark.sources import csv_source, lake  # noqa: F401
        from jhu_data_parser_spark.streaming import jobs, stateful  # noqa: F401
        from jhu_data_parser_spark.operators import reshape  # noqa: F401

        tr.install_spans(rec, SPANNED)
        listener = tr.ProgressListener(rec)
        spark.streams.addListener(listener)

    windows = []  # (epoch t0, epoch t1) per pass, cold pass first
    e0 = time.time()
    cold_ops: dict[str, list[float]] = {}
    errors: list[str] = []
    cold_s, cold_results = run_pass(wl.ops(spark, collect=True, rec=rec), rec, cold_ops,
                                    errors)
    windows.append((e0, time.time()))
    results = {name: [res] for name, res in cold_results.items()}

    passes, op_times, outputs = [], {}, []
    warm_ops = wl.ops(spark, collect=False, rec=rec)
    t_run = time.perf_counter()
    while len(passes) < MIN_WARM_PASSES or time.perf_counter() - t_run < args.seconds:
        e0 = time.time()
        dt, res = run_pass(warm_ops, rec, op_times, errors)
        windows.append((e0, time.time()))
        passes.append(dt)
        outputs.append(wl.output_stats())
        for name, r in res.items():
            if r is not None:
                results.setdefault(name, []).append(r)
    warm_s = time.perf_counter() - t_run

    jvm_mb = vm_hwm_mb(jpid)
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    if listener is not None:
        _drain(listener)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:  # the JVM exits when its stdin closes
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    if isinstance(wl, MixWorkload):
        results = {name: r[0] for name, r in results.items()}
    failures = errors + wl.check(results, oracle_rows)
    n_ops = len(warm_ops)
    attempted = n_ops * (1 + len(passes))
    p50 = statistics.median(passes)
    out = {
        "workload": wl.name, "seed": args.seed, "load1": round(load1, 2),
        "contended": load1 > LOAD1_CONTENDED, "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "gen_s": gen_s, "setup_samples": setups, "passes": passes,
        "op_p50": {k: statistics.median(v) for k, v in op_times.items()},
        "op_cold": {k: v[0] for k, v in cold_ops.items()}, "failures": failures, "attempted": attempted,
        "metrics": {
            "setup_s": statistics.median(setups),
            "pass_s.p50": p50,
            "cold_pass_s": cold_s,
            "ops_per_min": 60.0 * n_ops * len(passes) / warm_s,
            "driver_py_peak_rss_mb": py_mb,
        },
        "jvm_peak_rss_mb": jvm_mb,
    }
    out["tail"] = tail(passes)
    if isinstance(wl, EtlWorkload):
        out["etl_cells_per_s"] = wl.cells / p50
    else:
        streams = [k for k in out["op_p50"] if k.startswith("stream_")]
        out["stream_rows_per_s"] = wl.event_rows * len(streams) / sum(
            out["op_p50"][k] for k in streams)
    if args.trace:
        log = tr.parse_event_log(_event_logs(work))
        out["layers"], out["op_table"] = layer_metrics(wl, rec, log, listener, windows, outputs,
                                      statistics.median(setups), p50)
    return out


def _drain(listener, quiet_s: float = 0.5, max_s: float = 5.0) -> None:
    """Progress events arrive asynchronously; wait until they stop."""
    t_end, seen = time.time() + max_s, -1
    while time.time() < t_end and len(listener.batches) != seen:
        seen = len(listener.batches)
        time.sleep(quiet_s)


def _event_logs(work: str) -> list[str]:
    d = os.path.join(work, "eventlog")
    return sorted(os.path.join(d, f) for f in os.listdir(d) if not f.startswith("."))


def layer_metrics(wl, rec, log, listener, windows, outputs, setup_s, p50) -> dict:
    import tracing as tr

    warm = windows[1:]
    n = float(len(warm))
    m = dict.fromkeys(per_layer_names(), 0.0)
    m["session.start_s"] = setup_s
    m["trace.pass_s.p50"] = p50

    def in_warm(t):
        return any(a <= t <= b for a, b in warm)

    spans = rec.spans
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    outer = [s for s in spans if s.parent is None or spans[s.parent].layer != s.layer]
    for s in outer:
        if not in_warm(s.t0):
            continue
        jobs = tr.jobs_in(log, s.t0, s.t1)
        if s.layer == "sources.csv_source":
            m["sources.csv_source.read_s"] += s.dur / n
            m["sources.csv_source.jobs"] += len(jobs) / n
        elif s.layer == "operators.reshape":
            m["operators.reshape.plan_s"] += s.dur / n
        elif s.layer == "sink":
            m["sink.write_s"] += s.dur / n
            m["sink.commit_s"] += max(s.t1 - tr.last_task_end(log, jobs), 0.0) / n
        elif s.layer == "sources.lake":
            m["sources.lake.read_s"] += s.dur / n
        elif s.layer == "plans":
            m["plans.build_s"] += s.dur / n
            m["plans.eager_jobs"] += len(jobs) / n
    for s in spans:
        if in_warm(s.t0) and s.name in ("etl.category_pipeline", "etl.combined_pipeline"):
            m["etl.plan_s"] += s.self_s / n
        if in_warm(s.t0) and s.name == "etl.enrich_country_lookup":
            m["etl.enrich_plan_s"] += s.dur / n
    m["plans.build_s.cold"] = sum(s.dur for s in outer if s.layer == "plans"
                                  and windows[0][0] <= s.t0 <= windows[0][1])
    if outputs:
        m["sink.files_out"] = statistics.mean(o[0] for o in outputs)
        m["sink.bytes_out"] = statistics.mean(o[1] for o in outputs)

    # Operator groups: every warm op span, its jobs and its build children.
    lake_files = len(wl.lake_files()) if isinstance(wl, EtlWorkload) else 0
    n_queries = sum(1 for s in spans if s.layer == "op" and in_warm(s.t0)
                    and s.name.startswith("lake_") and s.name != "lake_read") / n
    ops: dict[str, dict[str, float]] = {}
    for idx, op in enumerate(spans):
        if op.layer != "op" or not in_warm(op.t0):
            continue
        build = [c for c in children.get(idx, []) if c.layer in ("plans", "etl")]
        build_s = sum(c.dur for c in build)
        exec_t0 = max([op.t0] + [c.t1 for c in build])
        g = wl.group(op.name)
        jobs = tr.jobs_in(log, op.t0, op.t1)
        counters = tr.job_counters(log, jobs)
        for k, v in counters.items():
            m[f"{g}.{k}"] += v / n
        m[f"{g}.exec_s"] += (op.dur - build_s) / n
        row = ops.setdefault(op.name, dict.fromkeys(OP_TABLE, 0.0))
        for k, v in (("build_s", build_s), ("exec_s", op.dur - build_s),
                     ("jobs", counters["jobs"]), ("python_bytes", counters["python_bytes"])):
            row[k] += v / n
        exec_jobs = tr.jobs_in(log, exec_t0, op.t1)
        m[f"{g}.sched_gap_s"] += max(op.t1 - exec_t0 - tr.busy_s(log, exec_jobs), 0.0) / n
        if op.name.startswith("lake_") and op.name != "lake_read":
            m["sources.lake.query_s"] += op.dur / n
            read = sum(v.get("number of files read", 0.0)
                       for t, v in log.sql_metrics if op.t0 <= t <= op.t1)
            if lake_files:
                m["sources.lake.files_read_ratio"] += read / lake_files / n / n_queries

    # Streams: per-batch progress, attributed to the layer that started it.
    by_query: dict[str, list[dict]] = {}
    for b in listener.batches if listener else []:
        if in_warm(b["t0"]):
            by_query.setdefault(b["id"], []).append(b)
    for layer in STREAM_LAYERS:
        qs = [sorted(bs, key=lambda b: b["t0"]) for q, bs in by_query.items()
              if listener.layer_of.get(q) == layer]
        batches = [b for bs in qs for b in bs]
        if not batches:
            continue
        m[f"{layer}.batches"] = len(batches) / n
        for key in ("addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset"):
            m[f"{layer}.{key}_ms"] = statistics.mean(b["durations"].get(key, 0)
                                                     for b in batches)
        gaps = [(b2["t0"] - b1["t1"]) * 1000.0 for bs in qs for b1, b2 in zip(bs, bs[1:])]
        m[f"{layer}.gap_ms"] = statistics.mean(gaps) if gaps else 0.0
        jobs = sum(len(tr.jobs_in(log, bs[0]["t0"], bs[-1]["t1"])) for bs in qs)
        m[f"{layer}.jobs_per_batch"] = jobs / len(batches)
        m[f"{layer}.state_rows"] = max(b["state_rows"] for b in batches)
        m[f"{layer}.state_mem_bytes"] = max(b["state_mem"] for b in batches)
    return m, ops


def report(out: dict, trace: bool) -> dict:
    """Print the human-readable table; return the final JSON object."""
    units = {"setup_s": "s", "pass_s.p50": "s", "cold_pass_s": "s",
             "ops_per_min": "ops/min", "driver_py_peak_rss_mb": "MiB"}
    m = out["metrics"]
    failed = len(out["failures"])
    print(f"# perfbench {out['workload']} seed={out['seed']} local[{out['cpus']}] "
          f"load1={out['load1']} contended={str(out['contended']).lower()} "
          f"trace={int(trace)}")
    print(f"#   inputs generated in {out['gen_s']:.2f} s (untimed); setup samples "
          + ", ".join(f"{s:.3f}" for s in out["setup_samples"]))
    print(f"#   warm passes n={len(out['passes'])}: "
          + ", ".join(f"{p:.3f}" for p in out["passes"]))
    print("#   cold op (s): " + ", ".join(f"{k} {v:.3f}" for k, v in out["op_cold"].items()))
    print("#   warm op p50 (s): "
          + ", ".join(f"{k} {v:.3f}" for k, v in out["op_p50"].items()))
    for k, v in m.items():
        print(f"#   {k:24s} {v:14.4f} {units[k]}")
    t, p = out["tail"]
    print(f"#   {'pass_s.tail':24s} " + (f"{t:14.4f} s (p{p}, n={len(out['passes'])})" if t
          else f"{'n/a':>14s}   (n={len(out['passes'])} warm passes; needs >= 20)"))
    print(f"#   {'jvm_peak_rss_mb':24s} {out['jvm_peak_rss_mb']:14.4f} MiB (VmHWM)")
    if "etl_cells_per_s" in out:
        print(f"#   {'etl_cells_per_s':24s} {out['etl_cells_per_s']:14.1f} cells/s")
    if "stream_rows_per_s" in out:
        print(f"#   {'stream_rows_per_s':24s} {out['stream_rows_per_s']:14.1f} rows/s "
              "(events drained by the two streams / their warm p50)")
    print(f"#   {'failed_op_share':24s} {failed / out['attempted']:14.4f} ratio")
    for f in out["failures"]:
        print(f"#   CHECK FAILED: {f}")
    if trace:
        print("#   per operation, mean per warm pass: " + "  ".join(OP_TABLE))
        for name, row in out["op_table"].items():
            print(f"#   {name:32s} " + " ".join(f"{row[k]:12.3f}" for k in OP_TABLE))
        for k, v in out["layers"].items():
            print(f"#   {k:44s} {v:16.4f}")
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in out["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in m.items()}
    return {"correct": failed == 0, "attempted": out["attempted"], "failed": failed,
            "metrics": metrics}


def _layer_unit(name: str) -> str:
    if name.endswith(("_s", "_s.cold", ".p50")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_out"):
        return "bytes"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(PACKAGE_DIR, "__init__.py")):
        print(f"perfbench: no jhu_data_parser_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Spark's Python workers import the package too, so PYTHONPATH (not
    # only sys.path) carries the checkout; scratch files stay inside it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Both JVMs (spark-submit's launcher and the driver): no hsperfdata
    # file under /tmp, temp files and Derby inside the work directory.
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp "
                                       f"-Dderby.system.home={work}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYARROW_IGNORE_TIMEZONE"] = "1"
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests")]
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    final = report(out, bool(args.trace))
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
