"""Benchmark runner: one workload of registered queries, one closed-loop client.

    python3 perfbench/run.py --workload fixed_income --seed 1 --seconds 10 --trace 0

A single driver thread submits the workload's queries
(``pyield_spark.queries.QUERIES``) back to back on ``local[<cores / 2>]``,
each forced end to end through the noop sink as ``bench.py`` does. Every
query runs under the Spark job group ``<query>#build`` while its
DataFrame is constructed and ``<query>#exec`` while it executes.

A run:

1. generates the input tables from ``--seed`` (cached per seed and
   scale under ``perfbench/.work/data``; not part of ``setup_s``);
2. sets up: SparkSession, ``load_all()``, and ``bench.py``'s warm-up
   (two queries plus the ``mapInPandas`` worker pool) -> ``setup_s``;
3. runs the cold lap (each query built and run once in a fresh
   session) -> ``cold_wall_s``, then warm laps until ``--seconds`` have
   passed since the cold lap began, at least three -> ``wall_s``, the
   sum over queries of each one's fastest execution in the first three
   warm laps, so that load from outside the process that slows one lap
   does not move it; later laps count only in ``query_p50_s`` and
   ``failed_frac``, so a faster program does not get more samples. The cold
   lap visits the queries in the listed order, as ``bench.py``'s first
   lap does: whichever query runs first pays shared
   first-use costs (Python worker imports, code generation for a new
   operator), which made a seeded cold order a second source of spread
   in cold_wall_s. Warm laps visit them in a seeded random order;
4. collects every query's full output and compares it with its DuckDB
   oracle over the same tables (row count, column names and an
   order-insensitive value hash); a mismatch or an error counts as a
   failed execution.

With ``--trace 1`` the laps are fixed instead: a traced cold lap, then
three warm laps of which only the second is traced, and the per-layer
metrics of ``tracer.py`` are reported, summed over the two traced
laps. Per-query records (and, traced, the spans) are written to
``perfbench/.work/{run,trace}-<workload>-seed<seed>.json``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer
metrics traced). Spark's stderr goes to ``perfbench/.work/logs``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import tracer as tracing  # noqa: E402

SCALE = 0.005  # generated tables: 30k lineitem rows, 500 documents
WARM_LAPS = 3  # warm laps wall_s is taken over

WORKLOADS: dict[str, dict] = {
    "fixed_income": {
        "why": "PYield's fixed-income operators (business days, curves, bond "
               "pricing, bootstrap, as-of joins); query construction is about a "
               "third of the warm lap",
        "queries": [
            "q_bd_count", "q_asof_last_order", "q_interp_flat_forward",
            "q_ltn_pricing", "q_ntnf_pricing", "q_bootstrap_zero", "q_copom_probs",
        ],
    },
    "llm_data": {
        "why": "LLM-data operators: ANN search, text statistics, Python/Arrow "
               "kernels and iterative connected components, whose query is about "
               "40% of the warm lap",
        "queries": [
            "q_exact_dedup", "q_simhash", "q_simhash_clusters", "q_cosine_topk",
            "q_sq8_topk", "q_quality_percentile", "q_text_stats",
        ],
    },
}

# name -> unit, in the order printed. query_p50_s and failed_frac are
# printed too but are not gated metrics: failed_frac is 0 on a healthy
# run, and the median of a few heterogeneous queries' times jumps between
# clusters of query costs from run to run.
END_TO_END = {"setup_s": "s", "cold_wall_s": "s", "wall_s": "s"}

_FI = "cold_wall_s and wall_s on fixed_income"
_LLM = "wall_s on llm_data"
# name -> (unit, better, the end-to-end metric and workload it should move)
PER_LAYER: dict[str, tuple[str, str, str]] = {
    "session.start_s": ("s", "lower", "setup_s, all workloads"),
    "session.warmup_s": ("s", "lower", "setup_s, all workloads"),
    "session.jvm_peak_rss_mb": ("MB", "lower", "none: watches memo/cache trade-offs"),
    "queries.build_s": ("s", "lower", "cold_wall_s and wall_s, both workloads"),
    "queries.build_py4j": ("count", "lower", "cold_wall_s and wall_s, both workloads"),
    "queries.build_py4j_gc": ("count", "lower", "none: the part of build_py4j that "
                              "varies between runs (proxy garbage collection)"),
    "queries.build_jobs": ("count", "lower", "cold_wall_s and wall_s, both workloads"),
    "queries.tables_s": ("s", "lower", "cold_wall_s minus wall_s on fixed_income"),
    "calendar_br.cache_hit_ratio": ("ratio", "higher",
                                    "cold_wall_s minus wall_s on fixed_income"),
    "du.call_s": ("s", "lower", _FI),
    "du.py4j": ("count", "lower", _FI),
    "functions.calls": ("count", "lower", _FI),
    "functions.py4j": ("count", "lower", _FI),
    "functions.call_s": ("s", "lower", _FI),
    "curves.call_s": ("s", "lower", _FI),
    "curves.py4j": ("count", "lower", _FI),
    "bonds.call_s": ("s", "lower", _FI),
    "bonds.py4j": ("count", "lower", _FI),
    "bonds.jobs": ("count", "lower", _FI),
    "analytics.call_s": ("s", "lower", _FI),
    "analytics.py4j": ("count", "lower", _FI),
    "operators.asof.call_s": ("s", "lower", _FI),
    "operators.graph.call_s": ("s", "lower", _LLM),
    "operators.graph.rounds": ("count", "lower", _LLM),
    "operators.graph.jobs": ("count", "lower", _LLM),
    "operators.pinning.pins": ("count", "lower", _LLM),
    "operators.pinning.s": ("s", "lower", _LLM),
    "operators.similarity.call_s": ("s", "lower", _LLM),
    "operators.similarity.py4j": ("count", "lower", _LLM),
    "operators.dedup.call_s": ("s", "lower", _LLM),
    "operators.text.call_s": ("s", "lower", _LLM),
    **{f"spark.{k}": (u, "lower", "wall_s, both workloads") for k, u in [
        ("exec_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
        ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"),
        ("spill_bytes", "B"), ("peak_exec_mem_bytes", "B"),
        ("exchanges", "count"), ("windows", "count"), ("warn_lines", "count"),
    ]},
    "trace.overhead_s": ("s", "lower", "none: traced warm lap minus the mean of the "
                         "untraced ones before and after it"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env() -> dict[str, str]:
    """Environment and Spark confs that keep every file the run writes
    inside ``perfbench/.work`` and let Python workers import the package
    (it is not installed). Returns the extra Spark confs."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # Half the cores: a task thread that runs a Python kernel keeps a
    # Python worker busy too, and the JVM compiles and collects garbage on
    # threads of its own. One task per core outnumbers the cores, and the
    # laps then time the scheduler more than the program.
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    return {
        # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # keep every job, stage and SQL execution of a run in the stores
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


@contextmanager
def stderr_to(path: str):
    """Send fd 2 (Python and the JVM it starts) to ``path``; on an error,
    echo the log's tail to the real stderr."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    sys.stderr.flush()
    saved = os.dup(2)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    try:
        yield
    except BaseException:
        sys.stderr.flush()
        os.dup2(saved, 2)
        with open(path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise
    finally:
        sys.stderr.flush()
        os.dup2(saved, 2)
        os.close(saved)


def spark_digest(check, df) -> tuple[list[str], int, str]:
    rows = [tuple(r) for r in df.collect()]
    return sorted(df.columns), len(rows), check.value_hash(check.canon_rows(df.columns, rows))


def oracle_digest(check, con, sql: str) -> tuple[list[str], int, str]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    return sorted(cols), len(rows), check.value_hash(check.canon_rows(cols, rows))


def warm_wall_s(records: list[dict]) -> float:
    """Sum over queries of each one's fastest execution in warm laps 1 to
    ``WARM_LAPS``, however many more laps the time allowed; a failed
    execution counts with the time it took."""
    best: dict[str, float] = {}
    for r in records:
        if 1 <= r["lap"] <= WARM_LAPS:
            t = r["build_s"] + r["exec_s"] if r["ok"] else r["t1"] - r["t0"]
            best[r["query"]] = min(t, best.get(r["query"], t))
    return sum(best.values())


class Run:
    """One benchmark run in this process."""

    def __init__(self, args, names: list[str], data_dir: str, log_path: str):
        self.args, self.names, self.data_dir = args, names, data_dir
        self.log_path = log_path
        self.rng = random.Random(args.seed)
        self.records: list[dict] = []  # one per timed query execution
        self.checks: list[dict] = []
        self.frames: dict = {}  # query -> DataFrame of its latest timed run
        self.tracer = self.spark = None

    # -- set-up ----------------------------------------------------------
    def setup(self, conf: dict[str, str]) -> dict[str, float]:
        t0 = time.perf_counter()
        from pyield_spark.queries import QUERIES, load_all
        from pyield_spark.session import get_session

        if self.args.trace:
            self.tracer = tracing.Tracer()
            self.tracer.install()
        self.queries = QUERIES
        self.spark = get_session("perfbench", extra_conf=conf)
        self.sc = self.spark.sparkContext
        load_all()
        t1 = time.perf_counter()
        for warm in ("q_pricing_summary", "q_bd_offset"):
            QUERIES[warm](self.spark, self.data_dir).write.format("noop").mode(
                "overwrite").save()

        def _noop_kernel(batches):
            for b in batches:
                yield b

        (
            self.spark.range(0, 256, 1, 32)
            .mapInPandas(_noop_kernel, "id long")
            .write.format("noop").mode("overwrite").save()
        )
        t2 = time.perf_counter()
        return {"session.start_s": t1 - t0, "session.warmup_s": t2 - t1}

    # -- laps ------------------------------------------------------------
    def _py4j(self) -> tuple[int, int]:
        """(all, garbage-collection) py4j commands sent so far."""
        tr = self.tracer
        return (tr.py4j[0], tr.py4j_gc[0]) if tr else (0, 0)

    def run_query(self, lap: int, name: str) -> None:
        rec = {"lap": lap, "query": name, "ok": False}
        tr = self.tracer
        if tr:
            tr.query, tr.lap = name, lap
        self.sc.setJobGroup(f"{name}#build", f"lap {lap}")
        c0, t0 = self._py4j(), time.perf_counter()
        try:
            span = tr.open("queries", "build") if tr and tr.enabled else None
            try:
                df = self.queries[name](self.spark, self.data_dir)
            finally:
                if span:
                    tr.close(span)
            t1, c1 = time.perf_counter(), self._py4j()
            self.sc.setJobGroup(f"{name}#exec", f"lap {lap}")
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            self.frames[name] = df
            rec.update(ok=True, build_s=t1 - t0, exec_s=t3 - t2,
                       build_py4j=c1[0] - c0[0], build_py4j_gc=c1[1] - c0[1],
                       t0=t0, t1=t3)
        except Exception as e:  # a failed query is counted, the run goes on
            rec.update(error=f"{type(e).__name__}: {str(e)[:300]}", t0=t0,
                       t1=time.perf_counter())
            print(f"FAIL {name} lap {lap}: {rec['error']}")
        self.records.append(rec)

    def lap(self, lap: int) -> float:
        order = self.names[:]
        if lap:
            self.rng.shuffle(order)
        t0 = time.perf_counter()
        for name in order:
            self.run_query(lap, name)
        return time.perf_counter() - t0

    # -- output check ----------------------------------------------------
    def check(self) -> None:
        """Spark collects each query while a second thread runs the DuckDB
        oracles, so that the check, which is not timed, costs less of the
        run; an exception on either side is a failed check."""
        import duckdb

        from pyield_spark.queries import ORACLES

        check = tracing.load_tool("check_oracle")
        if self.tracer:
            self.tracer.enabled = False

        def oracles() -> dict:
            out = {}
            with duckdb.connect() as con:
                for t in check.TABLES:
                    path = os.path.join(self.data_dir, f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                for name in self.names:
                    try:
                        out[name] = oracle_digest(check, con, ORACLES[name])
                    except Exception as e:
                        out[name] = e
            return out

        got, took = {}, {}
        with ThreadPoolExecutor(1) as pool:
            expected = pool.submit(oracles)
            for name in self.names:
                self.sc.setJobGroup(f"{name}#check", "output check")
                t0 = time.perf_counter()
                try:
                    df = self.frames[name] if name in self.frames else (
                        self.queries[name](self.spark, self.data_dir))
                    got[name] = spark_digest(check, df)
                except Exception as e:
                    got[name] = e
                took[name] = time.perf_counter() - t0
            want = expected.result()
        for name in self.names:
            g, w = got[name], want[name]
            bad = next((e for e in (g, w) if isinstance(e, Exception)), None)
            if bad is not None:
                problem = f"{type(bad).__name__}: {str(bad)[:300]}"
            else:
                problem = None if g == w else f"spark {g} != oracle {w}"
            if problem:
                print(f"CHECK FAIL {name}: {problem}")
            self.checks.append({"query": name, "ok": problem is None,
                                "problem": problem, "spark_s": took[name]})

    # -- whole run -------------------------------------------------------
    def measure(self) -> dict:
        cold = self.lap(0)
        warm = []
        while (len(warm) < WARM_LAPS
               or time.perf_counter() - self.t_measure < self.args.seconds):
            warm.append(self.lap(len(warm) + 1))
        return {"cold_wall_s": cold, "wall_s": warm_wall_s(self.records), "warm_laps": warm}

    def measure_traced(self) -> dict:
        """Traced cold lap, then warm laps untraced, traced, untraced: the
        traced warm lap is always the second, and the untraced laps on
        both sides of it give the tracing overhead."""
        tr = self.tracer
        self.windows, self.log_offsets, laps = [], [], {}
        for i, kind in enumerate(["cold", "untraced1", "traced", "untraced2"]):
            tr.enabled = not kind.startswith("untraced")
            t, off = time.time(), os.fstat(2).st_size
            laps[kind] = self.lap(i)
            if tr.enabled:
                self.windows.append((t, time.time()))
                self.log_offsets.append((off, os.fstat(2).st_size))
        tr.enabled = False
        self.traced_laps = (0, 2)
        return laps

    def layer_metrics(self, setup: dict, laps: dict) -> dict:
        tr = self.tracer
        spans = [s for s in tr.spans if s.lap in self.traced_laps]
        st, sc = tracing.self_times(spans), tracing.self_counts(spans)
        stores = tracing.read_stores(self.spark)
        m: dict[str, float] = dict(setup)
        pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        m["session.jvm_peak_rss_mb"] = tracing.vm_hwm_mb(pid)

        recs = [r for r in self.records if r["lap"] in self.traced_laps and r["ok"]]
        m["queries.build_s"] = sum(r["build_s"] for r in recs)
        m["queries.build_py4j"] = sum(r["build_py4j"] for r in recs)
        m["queries.build_py4j_gc"] = sum(r["build_py4j_gc"] for r in recs)
        build_jobs = [j for j in stores["jobs"]
                      if (j.get("jobGroup") or "").endswith("#build")
                      and any(a * 1000 <= j["submissionTime"] <= b * 1000
                              for a, b in self.windows)]
        m["queries.build_jobs"] = len(build_jobs)
        m["queries.tables_s"] = sum(s.t1 - s.t0 for s in spans if s.layer == "queries.tables")
        gets = [s for s in spans if s.layer == "calendar_br.df_cache_get"]
        m["calendar_br.cache_hit_ratio"] = (
            1.0 - sum(s.extra.get("miss", 0) for s in gets) / len(gets) if gets else 0.0
        )

        # jobs started inside a layer's span (the innermost one) count for it
        job_layer: dict[str, int] = {}
        for j in stores["jobs"]:
            t = j.get("submissionTime", 0) / 1000.0 - tr.epoch
            inner = [s for s in spans if s.t0 <= t <= s.t1 and s.layer != "queries"]
            if inner:
                lay = max(inner, key=lambda s: s.t0).layer
                job_layer[lay] = job_layer.get(lay, 0) + 1
        for layer in tracing.LAYERS:
            mine = [s for s in spans if s.layer == layer]
            m[f"{layer}.calls"] = len(mine)
            m[f"{layer}.call_s"] = sum(st[s.id] for s in mine)
            m[f"{layer}.py4j"] = sum(sc[s.id] for s in mine)
            m[f"{layer}.jobs"] = job_layer.get(layer, 0)
        m["operators.graph.rounds"] = sum(
            s.extra.get("rounds", 0) for s in spans if s.layer == "operators.graph")
        m["operators.pinning.pins"] = m["operators.pinning.calls"]
        m["operators.pinning.s"] = m["operators.pinning.call_s"]

        m.update(tracing.engine_metrics(stores, self.windows))
        m["spark.warn_lines"] = sum(self._warn_lines(a, b) for a, b in self.log_offsets)
        m["trace.overhead_s"] = laps["traced"] - (laps["untraced1"] + laps["untraced2"]) / 2
        self._print_shares(laps["traced"], spans)
        self.dump(laps, m, spans=[s.as_dict() for s in tr.spans], jobs=[
            {k: j.get(k) for k in ("jobId", "jobGroup", "submissionTime",
                                   "completionTime", "stageIds")}
            for j in stores["jobs"]])
        return {name: m[name] for name in PER_LAYER}

    def _print_shares(self, lap_s: float, spans: list) -> None:
        """Shares of the traced warm lap taken by query construction and by
        the queries that run connected components."""
        recs = [r for r in self.records if r["lap"] == 2 and r["ok"]]
        cc = sorted({s.query for s in spans if s.lap == 2 and s.layer == "operators.graph"})
        cc_s = sum(r["build_s"] + r["exec_s"] for r in recs if r["query"] in cc)
        print(f"traced warm lap {lap_s:.2f} s: build {sum(r['build_s'] for r in recs) / lap_s:.1%}"
              f", connected-components queries ({' '.join(cc) or 'none'}) {cc_s / lap_s:.1%}")

    def _warn_lines(self, a: int, b: int) -> int:
        with open(self.log_path, "rb") as fh:
            fh.seek(a)
            return sum(b" WARN " in line for line in fh.read(b - a).splitlines())

    def dump(self, laps: dict, metrics: dict, **extra) -> None:
        """Write the run's per-query records (and, traced, its spans) to
        ``perfbench/.work/{run,trace}-<workload>-seed<seed>.json``."""
        kind = "trace" if self.args.trace else "run"
        path = os.path.join(WORK, f"{kind}-{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": self.args.workload, "seed": self.args.seed,
                       "laps": laps, "metrics": metrics, "records": self.records,
                       "checks": self.checks, **extra}, fh)
        print(f"{kind} records written to {os.path.relpath(path, ROOT)}")

    def execute(self, conf: dict[str, str], pre_setup_s: float) -> dict:
        setup = self.setup(conf)
        setup_s = pre_setup_s + setup["session.start_s"] + setup["session.warmup_s"]
        self.t_measure = time.perf_counter()
        laps = self.measure_traced() if self.args.trace else self.measure()
        t = time.perf_counter()
        self.check()
        print(f"output check took {time.perf_counter() - t:.1f} s")

        execs = len(self.records) + len(self.checks)
        failed = sum(not r["ok"] for r in self.records) + sum(
            not c["ok"] for c in self.checks)
        times = [r["build_s"] + r["exec_s"] for r in self.records if r["ok"]]
        if self.args.trace:
            metrics = self.layer_metrics(setup, laps)
            units = {k: v[0] for k, v in PER_LAYER.items()}
        else:
            metrics = {"setup_s": setup_s, "cold_wall_s": laps["cold_wall_s"],
                       "wall_s": laps["wall_s"]}
            units = END_TO_END
            self.dump(laps, metrics)
        for name, value in metrics.items():
            print(f"{name:28s} {value:14.4f} {units[name]}")
        if not self.args.trace:
            p50 = statistics.median(times) if times else 0.0
            print(f"{'query_p50_s':28s} {p50:14.4f} s (n={len(times)} executions; "
                  f"{len(laps['warm_laps'])} warm laps)")
        print(f"{'failed_frac':28s} {failed / execs:14.4f} fraction ({failed} of {execs})")
        return {
            "correct": failed == 0,
            "attempted": execs,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    def stop(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)
        if self.tracer:
            self.tracer.uninstall()


def main(argv=None, started: float | None = None) -> dict:
    """Run one workload; ``started`` is when the process started
    (``time.perf_counter``), by default the call itself."""
    started = time.perf_counter() if started is None else started
    args = parse_args(argv)
    names = WORKLOADS[args.workload]["queries"]
    conf = prepare_env()
    import pyield_spark.queries  # noqa: F401  (fails fast outside the repo)

    t_gen = time.perf_counter()
    data_dir, gen_s = datagen.ensure(os.path.join(WORK, "data"), args.seed, SCALE)
    print(f"input {os.path.relpath(data_dir, ROOT)}: generated in {gen_s:.3f} s "
          f"(0 = cached), not part of setup_s")
    pre_setup_s = t_gen - started
    log = os.path.join(WORK, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    run = Run(args, names, data_dir, log)
    with stderr_to(log):
        try:
            result = run.execute(conf, pre_setup_s)
        finally:
            run.stop()
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main(started=T_START)
