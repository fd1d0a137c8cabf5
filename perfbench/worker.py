"""One benchmark process: set up a Spark session, then run a workload.

Started by ``run.py`` in a fresh interpreter, with the session sized by
environment variables the launcher sets. Setup is timed from the moment the
launcher spawned this process (``--launched``, epoch seconds) until the
session is built and every query is registered. With ``--setup-only`` the
process stops there; otherwise it runs one warm-up job, one cold pass over
the workload's queries, then ``WARM_PASSES`` warm passes, and writes its
record as JSON to ``--out``.

Everything is measured from outside the package: the worker times its own
calls into the registered query functions, reads Spark's job/stage status
store and Catalyst's phase tracker over py4j, and (traced passes only)
wraps the public pool functions of ``plans.materialize``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(HERE.parent))

from metrics import (  # noqa: E402
    driver_idle,
    hit_ratio,
    pass_order,
    steady_passes,
    tail,
    typical_pass_total,
)
from workloads import WORKLOADS  # noqa: E402

# The first two warm passes still pay one-off costs (JIT compilation,
# codegen-cache fill, lazily loaded classes), so they are not counted as
# steady (``metrics.steady_passes``). Latencies keep falling a little over
# the next passes, so every run counts the same passes: the pass count is
# fixed and does not depend on speed or on ``--seconds``.
WARM_PASSES = 6
CATALYST_PHASES = ("analysis", "optimization", "planning")
# per-query sums of Spark's v1.StageData fields, over the stages that ran
STAGE_METRICS = {
    "executor_run_ms": "executorRunTime",
    "shuffle_read": "shuffleReadBytes",
    "shuffle_write": "shuffleWriteBytes",
    "spill": "diskBytesSpilled",
    "scan": "inputBytes",
    "scan_rows": "inputRecords",
    "write": "outputBytes",
}


def _setup(launched: float):
    from bigdata_carprice_assignment_spark import registry
    from bigdata_carprice_assignment_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench")
    t1 = time.time()
    registry.load_all()
    t2 = time.time()
    setup = {"setup_s": t2 - launched, "session.build_s": t1 - t0, "registry.load_s": t2 - t1}
    return spark, registry, setup


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit, so that the next
    process of the run starts on an idle machine and none outlives it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF from its parent
    gateway.proc.wait(timeout=60)


def _warmup(spark, data: str) -> float:
    """The fresh JVM's first parquet scan, broadcast join and aggregation
    (class loading, JIT, task launch), run once before the cold pass so
    that whichever query the seed puts first does not carry it. Kept out
    of ``setup_s`` because setup is repeated ``SETUPS`` times per run and
    this would be paid on every repeat."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    dim = spark.range(8).withColumnRenamed("id", "l_linenumber")
    (
        spark.read.parquet(f"{data}/lineitem.parquet")
        .limit(1000)
        .join(F.broadcast(dim), "l_linenumber")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity"))
        .collect()
    )
    return time.perf_counter() - t0


# ---------------------------------------------------------------- checking


def check(name: str, columns: list[str], rows, expected: pd.DataFrame | None) -> str | None:
    """None when ``rows`` match the oracle result, else a description.

    Values are compared after the normalization the repository's oracle
    harness applies (columns by name, rows sorted, timestamps as strings,
    doubles equal up to float-repr noise). Queries without an oracle must
    return at least one row."""
    from tests.oracle_harness import _cell_equal, normalize

    if expected is None:
        return None if rows else f"{name}: no rows"
    got = normalize(pd.DataFrame.from_records(rows, columns=columns))
    want = normalize(expected)
    if list(got.columns) != list(want.columns):
        return f"{name}: columns {list(got.columns)} != oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"{name}: {len(got)} rows != oracle {len(want)}"
    for c in got.columns:
        for i, (g, w) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not _cell_equal(g, w):
                return f"{name}.{c} row {i}: spark={g!r} oracle={w!r}"
    return None


# ---------------------------------------------------------------- tracing


class Tracer:
    """Per-layer counters for traced passes, read from outside the package.

    Spans (run -> pass -> query -> build/plan/collect) are kept in memory
    and written with the run record. Job attribution uses the scheduler's
    job-id counter: in a single-client loop every job started between a
    query's first and last instruction is that query's, including
    streaming micro-batches that run under another job group."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.jvm = spark._jvm
        self.spans: list[dict] = []
        self.t0 = time.perf_counter()
        self.pool = {"pin_calls": 0, "pin_s": 0.0, "lookups": 0, "hits": 0}
        self.stream = {"batches": 0, "batch_ms": 0, "planning_ms": 0, "commit_ms": 0}
        self._listener = None
        self._patched: list[tuple[object, str, object]] = []

    # -- spans
    def reserve(self) -> int:
        """An id for a span whose children are recorded before it ends."""
        self.spans.append({})
        return len(self.spans) - 1

    def span(self, name: str, parent, start: float, end: float, sid=None, **counts) -> int:
        sid = self.reserve() if sid is None else sid
        self.spans[sid] = {
            "id": sid,
            "parent": parent,
            "name": name,
            "start_s": round(start - self.t0, 6),
            "end_s": round(end - self.t0, 6),
            **counts,
        }
        return sid

    # -- hooks active only inside a traced pass
    def attach(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        from bigdata_carprice_assignment_spark.plans import materialize

        pool, stream = self.pool, self.stream
        orig_pinned, orig_get = materialize.pinned, materialize.pool_get

        def pinned(*a, **k):
            t = time.perf_counter()
            try:
                return orig_pinned(*a, **k)
            finally:
                pool["pin_calls"] += 1
                pool["pin_s"] += time.perf_counter() - t

        def pool_get(*a, **k):
            out = orig_get(*a, **k)
            pool["lookups"] += 1
            pool["hits"] += out is not None
            return out

        for mod in [m for n, m in sys.modules.items() if n.startswith("bigdata_carprice")]:
            for attr, orig, new in (("pinned", orig_pinned, pinned), ("pool_get", orig_get, pool_get)):
                if getattr(mod, attr, None) is orig:
                    setattr(mod, attr, new)
                    self._patched.append((mod, attr, orig))

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = event.progress.durationMs
                stream["batches"] += 1
                stream["batch_ms"] += d.get("triggerExecution", 0)
                stream["planning_ms"] += d.get("queryPlanning", 0)
                stream["commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)

            def onQueryTerminated(self, event):
                pass

        self._listener = Progress()
        self.spark.streams.addListener(self._listener)

    def detach(self) -> None:
        for mod, attr, orig in self._patched:
            setattr(mod, attr, orig)
        self._patched.clear()
        if self._listener is not None:
            self.drain()
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- JVM-side reads
    def next_job_id(self) -> int:
        return self.jsc.dagScheduler().nextJobId()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, first: int, end: int) -> dict:
        """Sum status-store metrics over jobs ``first <= id < end``."""
        self.drain()
        store = self.jsc.statusStore()
        intervals, stage_ids = [], set()
        for jid in range(first, end):
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        out = dict.fromkeys(["stages", *STAGE_METRICS], 0)
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for key, field in STAGE_METRICS.items():
                out[key] += getattr(st, field)()
        out["intervals"] = intervals
        return out

    @staticmethod
    def catalyst_ms(df) -> dict:
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for ph in CATALYST_PHASES:
            opt = phases.get(ph)
            out[ph] = opt.get().durationMs() if opt.isDefined() else 0
        return out

    def cached_bytes(self) -> int:
        return sum(i.memSize() + i.diskSize() for i in self.jsc.getRDDStorageInfo())

    def gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def live_heap_mb(self) -> float:
        self.jvm.java.lang.System.gc()
        mx = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mx.getHeapMemoryUsage().getUsed() / 2**20

    def peak_rss_mb(self) -> float:
        pid = self.jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0


# ---------------------------------------------------------------- the loop


class Run:
    def __init__(self, spark, registry, args, setup: dict):
        self.spark, self.args, self.setup = spark, args, setup
        self.workload = WORKLOADS[args.workload]
        self.fns = {q: registry.QUERIES[q] for q in self.workload.queries}
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.tracer = Tracer(spark) if args.trace else None
        self.expected = {q: self._oracle(registry, q) for q in self.workload.queries}
        self.passes: list[dict] = []
        self.root = self.tracer.reserve() if self.tracer else None

    def _oracle(self, registry, name: str) -> pd.DataFrame | None:
        from tests.oracle_harness import run_oracle

        sql = registry.ORACLES.get(name)
        return run_oracle(sql, self.args.data) if sql is not None else None

    def execute(self, name: str, traced: bool, parent: int | None) -> dict:
        tr = self.tracer if traced else None
        rec: dict = {"query": name}
        df = rows = None
        j0 = j1 = 0
        if tr:
            j0 = tr.next_job_id()
        w0 = time.time()
        t0 = time.perf_counter()
        t_build = t_plan = None
        try:
            df = self.fns[name](self.spark, self.args.data)
            t_build = time.perf_counter()
            if tr:
                j1 = tr.next_job_id()
                df._jdf.queryExecution().executedPlan()
                t_plan = time.perf_counter()
            rows = df.collect()
        except Exception as e:  # noqa: BLE001 — a failing query is counted, the loop goes on
            first_line = str(e).splitlines()[0][:300] if str(e) else ""
            rec["error"] = f"{name}: {type(e).__name__}: {first_line}"
        t1 = time.perf_counter()
        w1 = time.time()
        rec["wall_s"] = t1 - t0
        if "error" not in rec:
            problem = check(name, df.columns, rows, self.expected[name])
            if problem:
                rec["error"] = problem
        if tr:
            j2 = tr.next_job_id()
            qid = tr.span("query", parent, t0, t1, query=name)
            if t_build is not None:
                tr.span("build", qid, t0, t_build)
                if t_plan is not None:
                    tr.span("plan", qid, t_build, t_plan)
                    tr.span("collect", qid, t_plan, t1)
            jobs = tr.jobs(j0, j2)
            rec["build_s"] = (t_build or t1) - t0
            rec["collect_s"] = t1 - (t_plan or t_build or t1)
            rec["build_jobs"] = j1 - j0 if t_build is not None else j2 - j0
            rec["jobs"] = j2 - j0
            rec["catalyst_ms"] = tr.catalyst_ms(df) if df is not None else {}
            rec["driver_idle_s"] = driver_idle((w0, w1), jobs.pop("intervals"))
            rec.update(jobs)
            tr.spans[qid].update(jobs=rec["jobs"], stages=jobs["stages"])
        return rec

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        tr = self.tracer if traced else None
        order = pass_order(self.workload.queries, self.args.seed, pass_no)
        start = time.perf_counter()
        if tr:
            tr.attach()
            gc0 = tr.gc_ms()
            pool0, stream0 = dict(tr.pool), dict(tr.stream)
        pid = tr.reserve() if tr else None
        recs = [self.execute(q, traced, pid) for q in order]
        wall = sum(r["wall_s"] for r in recs)
        out = {"pass": pass_no, "traced": traced, "order": order, "queries": recs, "wall_s": wall}
        if tr:
            tr.detach()
            out["layers"] = self._layers(recs, wall, tr, gc0, pool0, stream0)
        # the whole pass, with the tracer's own reads: what tracing costs
        end = time.perf_counter()
        out["elapsed_s"] = end - start
        if tr:
            tr.span("pass", self.root, start, end, sid=pid, pass_no=pass_no)
        return out

    def _layers(self, recs, wall, tr, gc0, pool0, stream0) -> dict:
        tot = lambda k: sum(r.get(k, 0) for r in recs)  # noqa: E731
        cat = lambda ph: sum(r.get("catalyst_ms", {}).get(ph, 0) for r in recs)  # noqa: E731
        pool = {k: tr.pool[k] - pool0[k] for k in tr.pool}
        stream = {k: tr.stream[k] - stream0[k] for k in tr.stream}
        return {
            "queries.build_s": tot("build_s"),
            "queries.build_jobs": tot("build_jobs"),
            "catalyst.analysis_ms": cat("analysis"),
            "catalyst.optimization_ms": cat("optimization"),
            "catalyst.planning_ms": cat("planning"),
            "exec.collect_s": tot("collect_s"),
            "exec.jobs": tot("jobs"),
            "exec.stages": tot("stages"),
            "exec.executor_run_s": tot("executor_run_ms") / 1e3,
            "exec.core_busy_frac": tot("executor_run_ms") / 1e3 / (wall * self.cores),
            "exec.driver_idle_s": tot("driver_idle_s"),
            "exec.shuffle_read_bytes": tot("shuffle_read"),
            "exec.shuffle_write_bytes": tot("shuffle_write"),
            "exec.spill_bytes": tot("spill"),
            "sources.scan_bytes": tot("scan"),
            "sources.scan_rows": tot("scan_rows"),
            "sources.write_bytes": tot("write"),
            "plans.pin_calls": pool["pin_calls"],
            "plans.pin_s": pool["pin_s"],
            "plans.pool_lookups": pool["lookups"],
            "plans.pool_hit_ratio": hit_ratio(pool["hits"], pool["lookups"]),
            "plans.cached_bytes": tr.cached_bytes(),
            "streaming.batches": stream["batches"],
            "streaming.batch_s": stream["batch_ms"] / 1e3,
            "streaming.planning_s": stream["planning_ms"] / 1e3,
            "streaming.commit_s": stream["commit_ms"] / 1e3,
            "jvm.gc_s": (tr.gc_ms() - gc0) / 1e3,
            "jvm.peak_rss_mb": tr.peak_rss_mb(),
        }

    def run(self) -> dict:
        traced = self.tracer is not None
        run_start = time.perf_counter()
        self.setup["session.warmup_s"] = _warmup(self.spark, self.args.data)
        self.passes.append(self.run_pass(0, traced))
        warm_start = time.perf_counter()
        for p in range(1, WARM_PASSES + 1):
            # traced runs alternate traced and untraced warm passes so the
            # difference between them is the tracing overhead
            self.passes.append(self.run_pass(p, traced and p % 2 == 0))
        warm_phase_s = time.perf_counter() - warm_start
        if warm_phase_s < self.args.seconds:
            print(
                f"perfbench: the {WARM_PASSES} warm passes took {warm_phase_s:.1f} s,"
                f" less than --seconds {self.args.seconds:g}",
                file=sys.stderr,
            )
        record = {
            "setup": self.setup,
            "warm_phase_s": warm_phase_s,
            "passes": self.passes,
            "failures": [r["error"] for p in self.passes for r in p["queries"] if "error" in r],
        }
        if traced:
            self.tracer.span("run", None, run_start, time.perf_counter(), sid=self.root)
            record["spans"] = self.tracer.spans
        record.update(summarize(self.passes, traced))
        if traced:
            # one full GC after the last pass, so no measured pass starts
            # on a heap the tracer cleaned
            record["per_layer"]["jvm.live_heap_mb"] = self.tracer.live_heap_mb()
        return record


def summarize(passes: list[dict], traced: bool) -> dict:
    """End-to-end (untraced run) or per-layer (traced run) metrics."""
    steady = steady_passes(passes[1:])
    attempted = sum(len(p["queries"]) for p in passes)
    failed = sum(1 for p in passes for r in p["queries"] if "error" in r)
    out = {"attempted": attempted, "failed": failed, "steady_passes": [p["pass"] for p in steady]}
    if not traced:
        by_query: dict[str, list[float]] = {}
        for p in steady:
            for r in p["queries"]:
                by_query.setdefault(r["query"], []).append(r["wall_s"])
        lat = [x for xs in by_query.values() for x in xs]
        # the tail takes every warm execution: the slow ones a session
        # sees include repeats made before the JIT settled, and the rule
        # needs more than ten samples to name a percentile at all
        value, pct, n = tail([r["wall_s"] for p in passes[1:] for r in p["queries"]])
        out["end_to_end"] = {
            "cold_total_s": passes[0]["wall_s"],
            "warm_total_s": typical_pass_total(by_query),
            "warm_p50_s": statistics.median(lat),
            "warm_tail_s": value,
        }
        out["tail"] = {"percentile": pct, "samples": n}
        return out
    layered = [p for p in steady if p["traced"]]
    plain = [p for p in steady if not p["traced"]]
    out["per_layer"] = {
        k: statistics.median(p["layers"][k] for p in layered) for k in layered[0]["layers"]
    }
    out["per_layer"]["trace.overhead_frac"] = (
        statistics.median(p["elapsed_s"] for p in layered)
        / statistics.median(p["elapsed_s"] for p in plain)
        - 1.0
    )
    cold = passes[0]["layers"]
    out["per_layer"].update(
        {
            "catalyst.cold_ms": sum(cold[f"catalyst.{ph}_ms"] for ph in CATALYST_PHASES),
            "plans.cold_pin_calls": cold["plans.pin_calls"],
            "plans.cold_pin_s": cold["plans.pin_s"],
            "plans.cold_pool_hit_ratio": cold["plans.pool_hit_ratio"],
        }
    )
    out["cold_layers"] = cold
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--launched", type=float, required=True)
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args(argv)

    spark, registry, setup = _setup(args.launched)
    try:
        record = {"setup": setup} if args.setup_only else Run(spark, registry, args, setup).run()
    finally:
        _stop(spark)
    Path(args.out).write_text(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
