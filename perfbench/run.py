"""Benchmark for the engine's Task 1 retrieval and near-dup chains.

Run from the repository root:

    python3 perfbench/run.py --workload retrieval --seed 1 --seconds 5 --trace 0

``--seconds`` is the shortest measuring time of one run; BENCHMARK.json
records the value every comparison uses (``run_seconds``).

One workload per fresh process, on ``local[nproc]``, as a closed loop: one
client runs the workload's registered queries in sequence, each collected
to the driver, pass after pass. The first pass is the cold pass, then
WARMUP_PASSES untimed warm-up passes; measured warm passes follow, at
least MIN_WARM_PASSES and at least ``--seconds`` long. Every query's first
output is checked against its DuckDB oracle (``tests/oracle.py:compare``)
outside the timed passes, and every later output must equal the first.
The last stdout line is one JSON object:

- ``--trace 0``: the end-to-end metrics ``setup_s``, ``warm_cpu_s`` (CPU
  seconds of the whole process tree per warm pass) and ``peak_rss_mb``
  (perfbench/README.md maps them to the layers). The wall time of a warm
  pass, ``warm_s``, is on the info line: hypervisor steal on a shared VM
  moved it by 2.1x between runs where CPU time moved by 1.2x;
- ``--trace 1``: the per-layer metrics, ``cold_s`` and ``warm_s`` among
  them. After the warm-up passes, one warm pass
  gives the per-query plan, action and Spark status-store counters; one
  traced pass rebuilds each query from the engine's public operators
  (perfbench/chains.py), cuts it at every layer boundary with a ``noop``
  sink and times the cumulative prefixes. Spans are kept in memory and
  written once to ``perfbench/.work/trace-<workload>-<seed>.json``.

``attempted`` counts checked query executions and ``failed`` those that
raised, differed from the query's first output, or belong to a query
whose output failed its oracle check; ``error_rate`` is their ratio.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402
from statistics import median  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
ENGINE = ROOT / "similarity_analysis_big_data_spark"
sys.path[:0] = [str(ROOT), str(BENCH)]

from inputs import Spec  # noqa: E402

# workload -> (registered queries, input). retrieval: 9 disjoint copies of
# sf0.01's first 100 documents, 900 docs and 279 terms, above the
# flagship's DENSE_MAX_VOCAB=256, so title_best_abstract runs sparse.
# near_dup: sf0.1's first 800 documents rewritten as one disjoint copy,
# with a 160-doc 1-in-5 sample for the LSH chain. One query a workload:
# Spark's generated-code cache holds 100 classes, and any two of these
# queries alternated in one session need more, so every pass would
# recompile 60-117 classes and its CPU time would vary by a quarter
# between JVMs (perfbench/README.md).
WORKLOADS = {
    "retrieval": (("title_best_abstract",), Spec("sf0.01", 100, 9, "sparse")),
    "near_dup": (("near_dup_survivors",), Spec("sf0.1", 800, 1, "none")),
}
# Untimed warm passes after the cold pass. The JIT warms up by executions:
# per-pass CPU time still falls by a quarter between the fourth and the
# ninth warm pass on both workloads. The counts are what the run budget
# (48 runs in 3420 s) allows, more for retrieval's cheaper pass.
WARMUP_PASSES = {"retrieval": 12, "near_dup": 7}
MIN_WARM_PASSES = 5
E2E_UNITS = {"setup_s": "s", "warm_cpu_s": "s", "peak_rss_mb": "MB"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def setup():
    """Process start -> session up and registry loaded, on local[nproc],
    with every scratch file (Spark local dirs, JVM and Python temp files)
    kept inside the checkout."""
    if not (ENGINE / "session.py").is_file():
        raise SystemExit(f"engine package not found at {ENGINE}")
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    # -UsePerfData: HotSpot writes its perf-data file to /tmp whatever tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    from similarity_analysis_big_data_spark.plans import registry
    from similarity_analysis_big_data_spark.session import get_session

    spark = get_session(app_name="perfbench", master=f"local[{nproc()}]")
    spark.sparkContext.setLogLevel("ERROR")
    registry.headline_queries()  # imports every plan module
    return spark, registry, time.perf_counter() - T0


def stop(spark) -> None:
    """Stop the session and wait until its JVM, and with it Spark's Python
    workers, has exited."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)


def descendants(children: dict[int, list[int]]) -> list[int]:
    stack, out = list(children.get(os.getpid(), [])), []
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every descendant (the
    JVM with its JIT and GC threads, Spark's Python workers), including
    exited children they waited for. Steal time is not counted."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        pid = int(stat.parent.name)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    total = ticks.get(os.getpid(), 0) + sum(ticks.get(p, 0) for p in descendants(children))
    return total / os.sysconf("SC_CLK_TCK")


class PeakRss(threading.Thread):
    """Peak RSS of the Python driver plus the Python workers Spark forks
    (descendants of this process other than the JVM), from each process's
    VmHWM. The JVM is left out: its heap is pre-sized and pre-touched."""

    def __init__(self):
        super().__init__(daemon=True)
        self.done = threading.Event()
        self.workers: dict[int, int] = {}
        try:  # forget the input generator's allocations: only the run counts
            Path("/proc/self/clear_refs").write_text("5")
        except OSError:
            pass

    @staticmethod
    def _hwm_kb(pid) -> int:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
        return 0

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for stat in Path("/proc").glob("[0-9]*/stat"):
            try:
                ppid = int(stat.read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(stat.parent.name))
        for pid in descendants(children):
            try:
                if os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("python"):
                    self.workers[pid] = max(self.workers.get(pid, 0), self._hwm_kb(pid))
            except OSError:
                continue

    def run(self) -> None:
        while not self.done.wait(1.0):
            self.sample()

    def stop_mb(self) -> float:
        self.done.set()
        self.join()
        self.sample()
        return (self._hwm_kb("self") + sum(self.workers.values())) / 1024.0


class Collected:
    """A collected result in the shape tests/oracle.py:compare expects."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def frame_digest(pdf) -> str:
    cols = sorted(pdf.columns)
    norm = pdf[cols].sort_values(cols, kind="mergesort")
    return hashlib.sha256(norm.to_csv(index=False).encode()).hexdigest()


class JobGroups:
    """Gives every query execution its own job group and reads Spark's
    stage counters for it back from the status store."""

    FIELDS = {
        "spark.executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
        "spark.executor_run_s": lambda s: s.executorRunTime() / 1e3,
        "spark.gc_s": lambda s: s.jvmGcTime() / 1e3,
        "spark.shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
        "spark.shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
        "spark.spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
        "spark.tasks": lambda s: s.numTasks(),
        "spark.failed_tasks": lambda s: s.numFailedTasks(),
        "sources.input_bytes": lambda s: s.inputBytes(),
    }

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    def start(self, label: str) -> str:
        self.n += 1
        group = f"perfbench-{self.n}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def counters(self, group: str) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for job in self.jobs(group):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        jvm = self.sc._jvm
        # Spark 4.1's stageList takes all five arguments
        stages = self.sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        out = dict.fromkeys(self.FIELDS, 0.0)
        out["spark.stages"] = 0
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() not in stage_ids or s.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            for name, read in self.FIELDS.items():
                out[name] += read(s)
        return out


class Run:
    """One workload on one seeded input in this process's session."""

    def __init__(self, spark, registry, workload: str, seed: int, spec: Spec | None = None):
        import inputs

        self.spark, self.registry = spark, registry
        self.queries, default_spec = WORKLOADS[workload]
        spec = spec or default_spec
        self.run_id = f"{workload}-{seed}"
        out = WORK / "inputs" / f"{workload}-{spec.source}-{spec.base_docs}x{spec.k}-seed{seed}"
        self.stamp = inputs.build(out, spec, seed)
        self.sf_dir = str(out)
        self.groups = JobGroups(spark)
        self.results: dict = {}  # query -> first collected output
        self.failures: list[str] = []
        self.executions: dict[str, int] = {}  # query -> checked executions
        self.failed: dict[str, int] = {}  # query -> failed executions

    def fail(self, name: str, msg: str, executions: int = 1) -> None:
        self.failures.append(f"{name}: {msg}"[:500])
        self.failed[name] = min(self.failed.get(name, 0) + executions, self.executions[name])

    def attempt(self, name: str) -> None:
        self.executions[name] = self.executions.get(name, 0) + 1

    @property
    def attempted(self) -> int:
        return sum(self.executions.values())

    @property
    def n_failed(self) -> int:
        return sum(self.failed.values())

    def query(self, name: str):
        return self.registry.QUERIES[name].fn(self.spark, self.sf_dir)

    def record(self, name: str, pdf) -> None:
        """Keep a query's first output; a later output must equal it."""
        if name not in self.results:
            self.results[name] = pdf
        elif frame_digest(pdf) != frame_digest(self.results[name]):
            self.fail(name, "output differs from the query's first output")

    def run_pass(self) -> tuple[float, dict[str, tuple[float, float, str]]]:
        """One closed-loop pass; returns its wall time and, per query,
        (build_s, action_s, job group)."""
        timings = {}
        pass_start = time.perf_counter()
        for name in self.queries:
            self.spark.catalog.clearCache()
            group = self.groups.start(name)
            self.attempt(name)
            try:
                start = time.perf_counter()
                df = self.query(name)
                built = time.perf_counter()
                pdf = df.toPandas()
                done = time.perf_counter()
            except Exception as exc:  # counted in `failed`, never fatal
                self.fail(name, f"{type(exc).__name__}: {exc}")
                continue
            timings[name] = (built - start, done - built, group)
            self.record(name, pdf)
        return time.perf_counter() - pass_start, timings

    def oracles(self) -> dict:
        """Each query's registry oracle, evaluated by DuckDB on the same input."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM '{self.sf_dir}/documents.parquet'"
            )
            return {
                name: con.execute(self.registry.QUERIES[name].oracle).fetchdf()
                for name in self.queries
            }
        finally:
            con.close()

    def check(self) -> None:
        """Compare each query's first output with its oracle, once. A
        mismatch fails every execution of that query."""
        from tests.oracle import compare

        try:
            oracles = self.oracles()
        except Exception as exc:
            for name in self.queries:
                self.fail(name, f"oracle: {type(exc).__name__}: {exc}", self.executions[name])
            return
        for name, pdf in self.results.items():
            ok, why = compare(Collected(pdf), oracles[name])
            if not ok:
                self.fail(name, f"oracle mismatch: {why}", self.executions[name])

    # -- traced run ----------------------------------------------------------

    def traced_pass(self, spans: list) -> dict:
        """Time every cumulative layer prefix of every query from scratch.

        Each prefix ends in a ``noop`` sink, except the last, the whole
        rebuilt query, which is collected like the untraced pass and must
        equal the registered query's output. Returns the pass time, the
        self time, job count and rows out of each layer, and the time no
        prefix span covers."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from chains import CHAINS

        out = {"self_s": {}, "jobs": {}, "rows": {}, "uncovered_s": 0.0}
        pass_start = time.perf_counter()
        for name in self.queries:
            chain, layers = CHAINS[name]
            q_start, prev, prev_jobs = time.perf_counter(), 0.0, 0
            self.attempt(name)
            for layer in layers:
                self.spark.catalog.clearCache()
                group = self.groups.start(f"{name}/{layer}")
                rows = 0
                try:
                    start = time.perf_counter()
                    if layer == layers[-1]:
                        pdf = chain(self.spark, self.sf_dir).toPandas()
                        rows = len(pdf)
                    else:
                        observed = []
                        for df in chain(self.spark, self.sf_dir, layer):
                            obs = Observation()
                            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                                "noop"
                            ).mode("overwrite").save()
                            observed.append(obs)
                        rows = sum(obs.get["rows"] for obs in observed)
                    end = time.perf_counter()
                except Exception as exc:
                    self.fail(name, f"traced {layer}: {type(exc).__name__}: {exc}")
                    break
                if layer == layers[-1] and name in self.results:
                    if frame_digest(pdf) != frame_digest(self.results[name]):
                        self.fail(name, "rebuilt chain's digest differs from the query's")
                jobs = len(self.groups.jobs(group))
                spans.append(self.span(f"{name}/{layer}", name, start, end))
                out["self_s"][layer] = out["self_s"].get(layer, 0.0) + (end - start) - prev
                out["jobs"][layer] = out["jobs"].get(layer, 0) + jobs - prev_jobs
                out["rows"].setdefault(layer, []).append(rows)
                prev, prev_jobs = end - start, jobs
                out["uncovered_s"] -= prev
            spans.append(self.span(name, "pass", q_start, time.perf_counter()))
        end = time.perf_counter()
        spans.append(self.span("pass", None, pass_start, end))
        out["wall_s"] = end - pass_start
        out["uncovered_s"] += end - pass_start
        return out

    def span(self, name, parent, start, end) -> dict:
        return {"run": self.run_id, "name": name, "parent": parent,
                "start": start - T0, "end": end - T0}

    def strategy(self) -> str:
        """The strategy title_best_abstract's ``auto`` mode took on this
        input, from the engine's own per-(session, input) verdict."""
        from similarity_analysis_big_data_spark.plans.similarity import _AUTO_STRATEGY_CACHE

        verdict = _AUTO_STRATEGY_CACHE.get((self.spark.sparkContext.applicationId, self.sf_dir))
        return verdict[0] if isinstance(verdict, tuple) else str(verdict)

    def per_layer(self, seconds: float, setup_s: float, cold_s: float) -> tuple[dict, dict]:
        m = dict.fromkeys(PER_LAYER, 0.0)
        m["session.start_s"] = setup_s
        m["cold_s"] = cold_s
        spans: list[dict] = []
        plain, traced = [], []
        start = time.perf_counter()
        while not traced or time.perf_counter() - start < seconds:
            wall, timings = self.run_pass()
            counters = {n: self.groups.counters(g) for n, (_, _, g) in timings.items()}
            jobs = sum(len(self.groups.jobs(g)) for _, _, g in timings.values())
            plain.append((wall, timings, counters, jobs))
            traced.append(self.traced_pass(spans))

        m["warm_s"] = median(sum(sum(t[:2]) for t in p[1].values()) for p in plain)
        m["plans.build_s"] = median(sum(t[0] for t in p[1].values()) for p in plain)
        m["plans.action_s"] = median(sum(t[1] for t in p[1].values()) for p in plain)
        m["plans.jobs"] = median(p[3] for p in plain)
        for name in self.queries:
            samples = [sum(p[1][name][:2]) for p in plain if name in p[1]]
            m[f"plans.{name}_s"] = median(samples) if samples else 0.0
        for field in (*JobGroups.FIELDS, "spark.stages"):
            m[field] = median(sum(c[field] for c in p[2].values()) for p in plain)
        for layer in TIMED_LAYERS:
            m[layer_metric(layer)] = median(t["self_s"].get(layer, 0.0) for t in traced)
        m["components.jobs"] = median(t["jobs"].get("components", 0) for t in traced)
        m["trace.overhead_s"] = median(t["wall_s"] for t in traced) - median(p[0] for p in plain)
        m["trace.uncovered_s"] = median(t["uncovered_s"] for t in traced)

        rows = traced[-1]["rows"]
        m["sources.rows"] = sum(rows.get("sources.scan", []))
        m["text.tokens"] = sum(rows.get("text.tokenize", []))
        m["tfidf.vocab"] = max(rows.get("tfidf.df", [0]))  # every chain counts one vocabulary
        m["similarity.pairs"] = sum(rows.get("similarity.pair", []))
        m["dedup.candidates"] = sum(rows.get("dedup.candidate", []))
        m["dedup.verified"] = m["components.edges"] = sum(rows.get("dedup.verify", []))
        m["components.survivors"] = sum(rows.get("components", []))
        if m["dedup.candidates"]:
            m["dedup.verify_yield"] = m["dedup.verified"] / m["dedup.candidates"]
        info = {}
        if "title_best_abstract" in self.results:
            best = self.results["title_best_abstract"]["best_abstract_id"]
            m["similarity.matched_ratio"] = float((best != -1).mean())
            info["similarity.strategy"] = self.strategy()
            m["similarity.strategy_sparse"] = float(info["similarity.strategy"] == "sparse")
            if info["similarity.strategy"] != self.stamp["expected_strategy"]:
                self.fail(
                    "title_best_abstract",
                    f"took the {info['similarity.strategy']} strategy, "
                    f"expected {self.stamp['expected_strategy']}",
                )
        (WORK / f"trace-{self.run_id}.json").write_text(json.dumps(spans) + "\n")
        return m, info


TIMED_LAYERS = (
    "sources.scan", "text.tokenize", "tfidf.tf", "tfidf.df", "tfidf.weight",
    "similarity.pair", "similarity.argmax", "dedup.signature", "dedup.candidate",
    "dedup.verify", "components",
)


def layer_metric(layer: str) -> str:
    return "components.s" if layer == "components" else f"{layer}_s"


PER_LAYER = (
    "session.start_s", "cold_s", "warm_s", "plans.build_s", "plans.action_s", "plans.jobs",
    *(f"plans.{q}_s" for qs, _ in WORKLOADS.values() for q in qs),
    *(layer_metric(layer) for layer in TIMED_LAYERS),
    "sources.rows", "sources.input_bytes", "text.tokens", "tfidf.vocab",
    "similarity.pairs", "similarity.matched_ratio", "similarity.strategy_sparse",
    "dedup.candidates", "dedup.verified", "dedup.verify_yield",
    "components.edges", "components.jobs", "components.survivors",
    *(f for f in JobGroups.FIELDS if f.startswith("spark.")), "spark.stages",
    "trace.overhead_s", "trace.uncovered_s", "error_rate",
)


def unit_of(name: str) -> str:
    if name.endswith("_s") or name == "components.s":
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name in ("similarity.matched_ratio", "dedup.verify_yield", "error_rate"):
        return "ratio"
    if name == "similarity.strategy_sparse":
        return "bool"
    return "count"


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def host_record(loadavg_before, cpu_ticks_before) -> dict:
    import pyspark

    ticks = [b - a for a, b in zip(cpu_ticks_before, cpu_ticks())]

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
        ).stdout.strip() or None
    except OSError:
        commit = None
    src = hashlib.sha256()
    for path in sorted(ENGINE.rglob("*.py")):
        src.update(path.read_bytes())
    return {
        "nproc": nproc(),
        "loadavg_before": loadavg_before,
        "loadavg_after": os.getloadavg(),
        # share of this VM's CPU time the hypervisor gave to other guests
        "steal_share": ticks[7] / max(sum(ticks), 1),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": commit,
        "engine_sha256": src.hexdigest(),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    loadavg_before = os.getloadavg()
    cpu_ticks_before = cpu_ticks()

    spark, registry, setup_s = setup()
    run = Run(spark, registry, args.workload, args.seed)
    peak = PeakRss()
    peak.start()
    cold_s, _ = run.run_pass()
    for _ in range(WARMUP_PASSES[args.workload]):  # checked like every pass, not timed
        run.run_pass()
    info: dict = {}
    if args.trace:
        metrics, info = run.per_layer(args.seconds, setup_s, cold_s)
        peak.stop_mb()
    else:
        warm, cpu = [], []
        start = time.perf_counter()
        while len(warm) < MIN_WARM_PASSES or time.perf_counter() - start < args.seconds:
            cpu_start = tree_cpu_s()
            warm.append(run.run_pass()[1])
            cpu.append(tree_cpu_s() - cpu_start)
        peak_rss_mb = peak.stop_mb()
        # each query's median over the warm passes, summed: one slow
        # execution moves its own query's median, not the whole pass
        per_query = {
            name: median(sum(p[name][:2]) for p in warm if name in p)
            for name in run.queries
            if any(name in p for p in warm)  # a query that always raised is in `failed`
        }
    run.check()
    stop(spark)
    error_rate = run.n_failed / run.attempted
    if args.trace:
        metrics["error_rate"] = error_rate
        units = {k: unit_of(k) for k in metrics}
    else:
        metrics = {
            "setup_s": setup_s,
            "warm_cpu_s": median(cpu),
            "peak_rss_mb": peak_rss_mb,
        }
        units = E2E_UNITS
        # the median is the highest percentile fewer than 20 samples support
        info = {"warm_s": sum(per_query.values()), "warm_query_s": per_query,
                "warm_cpu_pass_s": cpu, "warm_samples": len(warm), "warm_percentile": "p50",
                "warmup_passes": WARMUP_PASSES[args.workload], "cold_s": cold_s}

    info.update(
        workload=args.workload, queries=run.queries, seed=args.seed, input=run.stamp,
        error_rate=error_rate, failures=run.failures,
        host=host_record(loadavg_before, cpu_ticks_before),
    )
    print(json.dumps(info))
    print(json.dumps({
        "correct": run.n_failed == 0,
        "attempted": run.attempted,
        "failed": run.n_failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
