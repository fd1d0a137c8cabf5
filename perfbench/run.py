"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload scan_agg --seed 1 --seconds 5 --trace 0

Run from the repository root. The launcher

1. sizes the Spark session from the host and points every scratch directory
   into ``.perfbench/`` under the root, removing what an earlier run left;
2. checks that every table the workload reads exists in the committed
   corpus (``perfbench/data/sf0.01``), failing once with the missing path;
3. times ``SETUPS`` fresh-process session setups (``SETUPS - 1`` setup-only
   workers, then the measuring worker) and reports their median;
4. runs the measuring worker (``worker.py``): a cold pass, then a fixed
   number of warm passes in an order permuted by ``--seed``; every
   execution's rows are checked against the query's DuckDB oracle outside
   the timed region;
5. prints one JSON line last: the end-to-end metrics of ``BENCHMARK.json``
   with ``--trace 0``, its per-layer metrics with ``--trace 1``.

It exits 0 only when every execution returned correct rows.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "bigdata_carprice_assignment_spark"
STATE = ROOT / ".perfbench"
# the driver corpus at scale 0.01 (seed 42, lineitem 60,000 rows), read as is
DATA = HERE / "data" / "sf0.01"

SETUPS = 2  # fresh-process setups per run; setup_s is their median
DRIVER_MEM = "4g"  # session.py's 16g default exceeds a 15 GB machine's RAM
DEADLINE_S = 170.0  # the whole command, setups included


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def session_env() -> dict[str, str]:
    """The environment every worker runs with; recorded in each run's output."""
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(STATE / "spark-local"),
        "SPARK_GRAFT_STREAM_CKPT_DIR": str(STATE / "stream-ckpt"),
        "TMPDIR": str(STATE / "tmp"),
        # the JVMs' own scratch files (native-library extraction, perf
        # counters) would otherwise go to /tmp, outside the root
        "JAVA_TOOL_OPTIONS": " ".join(
            o
            for o in (
                os.environ.get("JAVA_TOOL_OPTIONS", ""),
                f"-Djava.io.tmpdir={STATE / 'tmp'}",
                "-XX:-UsePerfData",
            )
            if o
        ),
        # Python workers started by Spark import the package from any cwd
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
    }


def clean_leftovers() -> None:
    """Remove what an earlier run left behind (outside any timing)."""
    for d in ("spark-local", "stream-ckpt", "tmp", "work"):
        shutil.rmtree(STATE / d, ignore_errors=True)
    shutil.rmtree(ROOT / "spark-warehouse" / "roundtrip", ignore_errors=True)
    for d in ("spark-local", "stream-ckpt", "tmp", "work", "logs", "runs"):
        (STATE / d).mkdir(parents=True, exist_ok=True)


def tables_read(queries, registry, tables) -> set[str]:
    """Tables of ``tables`` named by each query's oracle SQL; all of them
    for a query without one. Refuses a query that reads the CarPrice
    reference files."""
    from bigdata_carprice_assignment_spark.pipelines.carprice import REFERENCE_CSV

    reference_dir = os.path.dirname(REFERENCE_CSV)
    out: set[str] = set()
    for q in queries:
        fn = registry.QUERIES[q]
        sql = registry.ORACLES.get(q)
        if fn.__module__.endswith(".carprice") or reference_dir in (sql or ""):
            raise ValueError(f"{q} reads the CarPrice reference files")
        if sql is None:
            out.update(tables)
        else:
            out.update(t for t in tables if re.search(rf"\b{t}\b", sql))
    return out


def spawn(args, out: Path, setup_only: bool, deadline: float) -> dict:
    cmd = [
        sys.executable,
        str(HERE / "worker.py"),
        f"--workload={args.workload}",
        f"--seed={args.seed}",
        f"--seconds={args.seconds}",
        f"--trace={args.trace}",
        f"--data={DATA}",
        f"--out={out}",
        f"--launched={time.time()!r}",
    ] + (["--setup-only"] if setup_only else [])
    log = STATE / "logs" / f"{out.stem}.log"
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=STATE / "work", stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"worker ran past the deadline; log: {log}") from None
    if code != 0 or not out.exists():
        raise RuntimeError(f"worker exited {code}; log: {log}")
    return json.loads(out.read_text())


def main(argv: list[str] | None = None) -> int:
    deadline = time.monotonic() + DEADLINE_S
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        return _fail(f"package not found: {ROOT / PACKAGE}")
    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    except (OSError, ValueError) as e:
        return _fail(f"cannot read {ROOT / 'BENCHMARK.json'}: {e}")

    env = session_env()
    os.environ.update(env)
    sys.path.insert(0, str(HERE))
    sys.path.insert(1, str(ROOT))
    from workloads import WORKLOADS

    from bigdata_carprice_assignment_spark import registry
    from bigdata_carprice_assignment_spark.sources.readers import TESTDATA_TABLES

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]

    clean_leftovers()
    registry.load_all()
    try:
        needed = tables_read(workload.queries, registry, TESTDATA_TABLES)
    except (KeyError, ValueError) as e:
        return _fail(f"workload {args.workload}: {e}")
    missing = [str(DATA / f"{t}.parquet") for t in sorted(needed) if not (DATA / f"{t}.parquet").is_file()]
    if missing:
        return _fail(f"missing input table(s): {', '.join(missing)}")

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    try:
        setups = [
            spawn(args, STATE / "runs" / f"{tag}-setup{i}.json", True, deadline)["setup"]
            for i in range(SETUPS - 1)
        ]
        record = spawn(args, STATE / "runs" / f"{tag}.json", False, deadline)
    except RuntimeError as e:
        return _fail(str(e))
    setups.append(record["setup"])
    record["env"] = env
    record["setup_samples_s"] = [s["setup_s"] for s in setups]
    (STATE / "runs" / f"{tag}.json").write_text(json.dumps(record))

    setup_s = statistics.median(s["setup_s"] for s in setups)
    if args.trace:
        values = dict(record["per_layer"])
        values["session.build_s"] = record["setup"]["session.build_s"]
        values["session.warmup_s"] = record["setup"]["session.warmup_s"]
        wanted = spec["per_layer"]
    else:
        values = dict(record["end_to_end"], setup_s=setup_s)
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    failed, attempted = record["failed"], record["attempted"]
    print("env " + json.dumps(env))
    print(f"record {STATE / 'runs' / (tag + '.json')}")
    print(f"setup_samples_s {record['setup_samples_s']}")
    if not args.trace:
        t = record["tail"]
        print(
            f"warm_tail_s {record['end_to_end']['warm_tail_s']:.6f} s"
            f" (p{t['percentile']:.1f} of {t['samples']} warm executions)"
        )
    print(f"failed_frac {failed / attempted:.6f} ratio ({failed} of {attempted} executions)")
    for f in dict.fromkeys(record["failures"]):
        print(f"FAILED {f}")
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
