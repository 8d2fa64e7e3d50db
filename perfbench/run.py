#!/usr/bin/env python3
"""The benchmark: one workload, one seed, checked outputs, named metrics.

    python3 perfbench/run.py --workload fhir_ingest --seed 1 --seconds 6 --trace 0

Builds the program from the checkout (see `build.py`). Then one JVM sets up
Spark (`local[4]`, 4 shuffle partitions), makes the seed's inputs, runs an
untimed warm-up and runs jobs one after another
for `--seconds`, at least three (see `harness/graft/perfbench/`): a closed
loop with one client, the benchmark itself. The `core_queries` tables are
made here, before the JVM starts (`tables.py`). With `--trace 1` half the
jobs are traced and the run reports the per-layer metrics instead of the
end-to-end ones. Every timed job's outputs are checked (`checks.py`). The
last line printed is the JSON result; the exit code is 0 only when every
job was correct. Work files go under `.bench_build/perfbench` in the checkout.
"""

import argparse
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import checks  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402

WORK = build.ROOT / ".bench_build" / "perfbench"
# every run after the build must end within 180 s
DEADLINE_S = 165
HEAP = "2g"
# what build.sbt gives a forked JVM: Spark 4 on JDK 17 outside spark-submit
# needs these opens
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

# workload -> the unit of its input records
WORKLOADS = {"fhir_ingest": "bundles", "corpus_pipeline": "docs", "core_queries": "queries"}


class JvmError(RuntimeError):
    pass


def tree_bytes(path):
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def jvm(classpath, out, deadline, *args):
    """Run the harness JVM with `args`; return its `result.json`."""
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    timeout = deadline - time.monotonic()
    if timeout <= 0:
        raise JvmError("out of time")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    # -XX:CICompilerCount=2: the JIT keeps compiling through every job, and
    # the default three compiler threads beside the four task threads on four
    # cores made job times swing with it (fhir_ingest, five interleaved pairs
    # of runs: medians 2.38-3.79 s with three threads, 2.70-3.01 s with two).
    cmd = ["java", "-XX:-UsePerfData", "-XX:CICompilerCount=2", *ADD_OPENS, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={out / 'warehouse'}",
           f"-Dderby.system.home={out}", "-cp", classpath, "graft.perfbench.BenchMain",
           f"out={out}", *args]
    with open(out / "jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd + [f"launched={time.time()!r}"], cwd=out,
                               stdout=log, stderr=subprocess.STDOUT, timeout=timeout)
        except subprocess.TimeoutExpired:
            raise JvmError(f"timed out; see {out / 'jvm.log'}")
    if r.returncode != 0 or not (out / "result.json").is_file():
        raise JvmError(f"JVM exited {r.returncode}; see {out / 'jvm.log'}")
    return json.loads((out / "result.json").read_text())


def check_jobs(workload, data, run_dir, jobs):
    """Problems per job, from its own failure or its output check."""
    if workload == "fhir_ingest":
        expected = checks.fhir_expected(data)
        check = lambda j: checks.check_fhir(j["out"], expected)
    elif workload == "corpus_pipeline":
        sql = json.loads((run_dir / "oracle_sql.json").read_text())
        expected = checks.corpus_expected(data, sql["x43_pipeline"])
        check = lambda j: checks.check_corpus(j["out"], expected)
    else:
        # the results the warm-up pass wrote, then each timed pass's counts
        expected = checks.queries_expected(data, run_dir / "check")
        written = checks.check_queries_run(run_dir / "check", expected)
        check = lambda j: written + checks.check_pass(j["extras"]["rows"], expected)
    return [[f"job failed: {j['error']}"] if not j["ok"] else check(j) for j in jobs]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)

    try:
        classpath = build.ensure_built()
    except (build.BuildFailed, OSError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + DEADLINE_S
    unit = WORKLOADS[args.workload]
    run_dir = WORK / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data = run_dir / "inputs"
    if args.workload == "core_queries":
        tables.make(data, args.seed)

    try:
        run = jvm(classpath, run_dir, deadline, f"workload={args.workload}",
                  f"seed={args.seed}", f"data={data}", f"seconds={args.seconds!r}",
                  f"trace={args.trace}")
        jobs = run["jobs"]
        for j in jobs:
            j["out_bytes"] = tree_bytes(j["out"])
        problems = check_jobs(args.workload, data, run_dir, jobs)
    except (JvmError, OSError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1

    for j, p in zip(jobs, problems):
        for line in p:
            print(f"job {j['run']}: {line}", file=sys.stderr)
    failed = sum(1 for p in problems if p)
    run["jobs"] = [j for j, p in zip(jobs, problems) if not p]
    traced = [j for j in run["jobs"] if j["traced"]]
    plain = [j for j in run["jobs"] if not j["traced"]]
    metrics, units = {}, {}
    if plain and (traced or not args.trace):
        if args.trace:
            metrics = stats.per_layer(run, tree_bytes(data))
            units = stats.PER_LAYER
        else:
            metrics = stats.end_to_end(run)
            units = {k: v[0] for k, v in stats.END_TO_END.items()}
    print(f"{args.workload} seed {args.seed}: {run['records']} {unit} per job; "
          f"session {run['session_s']:.3f} s, inputs {run['inputs_s']:.3f} s, "
          f"warm-up {run['warmup_s']:.3f} s, "
          f"{len(plain)} untraced and {len(traced)} traced jobs timed; "
          f"error_rate {failed}/{len(jobs)}")
    for name, value in metrics.items():
        print(f"  {name:28s} {value:14.6f} {units[name]}")

    for d in ("inputs", "warmup", "jobs", "check", "tmp", "warehouse"):
        shutil.rmtree(run_dir / d, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and bool(metrics),
        "attempted": len(jobs), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 and metrics else 1


if __name__ == "__main__":
    sys.exit(main())
