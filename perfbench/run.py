"""The repository benchmark: one seeded workload, timed end to end.

    python3 perfbench/run.py --workload marketplace --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It builds the program from source (see
build.py), generates the inputs from the seed, runs the workload in one JVM
with one caller thread in a closed loop, checks every distinct result, and
prints as its last line one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`). Everything it writes lives under
`.bench_build/perfbench/` and the run's own directory there is removed on
every exit path. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build     # noqa: E402
import gen       # noqa: E402
import metrics   # noqa: E402
import oracle    # noqa: E402

ROOT = os.path.dirname(HERE)
CPUS = len(os.sched_getaffinity(0))
DEADLINE_S = 170
# Input scale per workload, as a share of sf0.1 row counts.
SCALE = {"marketplace": 1.0, "ingest": 0.1}

END_TO_END = [
    ("setup_s", "s"), ("latency_p50_s", "s"), ("latency_tail_s", "s"),
    ("calls_per_s", "1/s"), ("epoch_p50_s", "s"), ("driver_live_mb", "MB"),
]
PER_LAYER = [
    ("call.construct_s", "s"), ("call.construct_jobs", "count"),
    ("call.plan_s", "s"), ("call.plan_jobs", "count"),
    ("call.execute_s", "s"), ("call.execute_jobs", "count"),
    ("call.commit_s", "s"), ("call.commit_jobs", "count"),
    ("call.unaccounted_s", "s"),
    ("io.jobs", "count"), ("io.job_s", "s"),
    ("ops.layout.jobs", "count"), ("ops.layout.job_s", "s"),
    ("ops.layout.builds", "count"), ("ops.layout.refreshes", "count"),
    ("ops.layout.build_s", "s"),
    ("ops.materialize.jobs", "count"), ("ops.materialize.job_s", "s"),
    ("ops.materialize.collect_bytes", "bytes"),
    ("operators.jobs", "count"), ("operators.job_s", "s"),
    ("sink.jobs", "count"), ("sink.job_s", "s"),
    ("unattributed.jobs", "count"), ("unattributed.job_s", "s"),
    ("streaming.jobs", "count"), ("streaming.job_s", "s"),
    ("streaming.batch_s", "s"), ("streaming.rows_in", "count"),
    ("streaming.rows_appended", "count"), ("streaming.replay_rows", "count"),
    ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_busy_frac", "fraction"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.input_bytes", "bytes"),
    ("exec.result_bytes", "bytes"),
    ("jvm.gc_s", "s"), ("host.sentinel_s", "s"), ("trace.overhead_frac", "fraction"),
]

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class Stop(Exception):
    pass


def _on_signal(signum, _frame):
    raise Stop(f"signal {signum}")


def jvm_command(classpath, run_dir, args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java"] + opens + [
        "-Xmx3g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Dspark.local.dir={run_dir}/local",
        "-Dspark.ui.enabled=false",
        "-Dlog4j2.level=error",
        "-cp", os.pathsep.join(classpath), "perfbench.Main"] + args


def run_jvm(cmd, log_path, deadline):
    # local mode talks to itself only
    env = dict(os.environ, SPARK_LOCAL_IP=os.environ.get("SPARK_LOCAL_IP", "127.0.0.1"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1, deadline - time.monotonic()))
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _on_signal)
    start = time.monotonic()
    deadline = start + DEADLINE_S
    os.chdir(ROOT)
    classpath = build.build()
    deadline = max(deadline, time.monotonic() + 160)   # a first build is extra
    run_dir = os.path.join(build.OUT, f"run-{os.getpid()}")
    try:
        data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
        for d in (data, out, os.path.join(run_dir, "tmp")):
            os.makedirs(d)
        # one shard for set-up, one for the warm-up epoch and one per timed
        # epoch: at least two when traced, and an epoch takes well over 3 s
        shards = 4 + int(a.seconds // 3) if a.workload == "ingest" else 0
        gen.generate(data, a.seed, SCALE[a.workload], shards=shards)
        args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), data, out,
                str(CPUS)]
        log = os.path.join(run_dir, "jvm.log")
        rc = run_jvm(jvm_command(classpath, run_dir, args), log, deadline)
        raw_path = os.path.join(out, "raw.json")
        if rc != 0 or not os.path.exists(raw_path):
            sys.stderr.write(open(log).read()[-6000:])
            raise RuntimeError(f"benchmark JVM exited with {rc}")
        with open(raw_path) as f:
            raw = json.load(f)
        report(a, raw)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(a, raw):
    t0 = time.monotonic()
    failed_keys = oracle.check(raw["manifest"])
    oracle_s = time.monotonic() - t0
    for c in raw["checks"]:
        if not c["ok"]:
            for k in c["keys"]:
                failed_keys[k] = f"{c['name']}: {c['detail']}"
    for k, why in sorted(failed_keys.items()):
        print(f"FAILED {k}: {why}")
    calls = raw["calls"]
    failed = sum(1 for c in calls if not c["ok"] or c["key"] in failed_keys)
    by_key = {}
    for c in metrics.timed_calls(raw):
        by_key.setdefault(c["key"], []).append(c["total_s"])
    slow = sorted(by_key.items(), key=lambda kv: -statistics.median(kv[1]))[:8]
    print("slowest calls (median s): " + " ".join(
        f"{k}={statistics.median(v):.3f}" for k, v in slow))
    if a.trace:
        values, self_s = metrics.per_layer(raw, raw["cpus"])
        names = PER_LAYER
        for kind, v in sorted(self_s.items()):
            print(f"self time per traced pass: {kind} {v:.4f} s")
    else:
        values, counts = metrics.end_to_end(raw, failed_keys)
        names = END_TO_END
        tail = counts["tail_percentile"]
        print(f"calls={counts['calls']} distinct={counts['distinct']} "
              f"passes={counts['passes']} "
              f"tail={'p%.1f' % tail if tail else 'max'} "
              f"setups_s={raw['setups_s']} session_s={raw['session_s']:.2f} "
              f"window_s={raw['window_s']:.2f} "
              f"check_pass_s={raw.get('check_pass_s', 0):.2f} "
              f"oracle_s={oracle_s:.2f} "
              f"host.sentinel_s={raw.get('sentinel_s', 0):.3f} "
              f"jvm_s={raw['jvm_uptime_s']:.1f}")
    result = {
        "correct": failed == 0 and not failed_keys and len(calls) > 0,
        "attempted": len(calls),
        "failed": failed,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    try:
        main()
    except (Exception, Stop) as e:
        sys.stderr.write(f"benchmark failed: {e}\n")
        sys.exit(1)
