"""Run one benchmark workload and print its metrics.

    python3 benchmark/run.py --workload train_stream --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (benchmark/build.py),
generates the workload's inputs from the seed (benchmark/gen.py), runs the
workload in one JVM at local[min(nproc, 4)] through `graft.Graft.session`,
and prints a report followed, as the last line, by one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the per-layer ones.
Everything it writes stays under `.bench_build/` at the repo root.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

TIME_LIMIT_S = 170


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return min(n, 4)


def run_jvm(b, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # spark.callstack.depth: keep whole call sites, so that a job's record
    # names every engine module between the benchmark and Spark
    cmd = ["java"] + build.jvm_flags() + [
        f"-XX:SharedArchiveFile={b.archive}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.callstack.depth=500",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", b.classpath, "graftbench.Main"] + args
    env = dict(os.environ, GRAFTRC=os.path.join(work, "graftrc"), SPARK_LOCAL_IP="127.0.0.1")
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited with {rc}:\n{tail}")


def check_repeat(base, build_id, rec):
    """Compare the run's seed-determined values with those of an earlier run
    of the same seed and the same build in this checkout, as one more
    correctness check. Keyed by build, so that a change of the code that
    legitimately changes those values is never compared with its parent."""
    path = os.path.join(base, "repeat", build_id, f"{rec['workload']}-seed{rec['seed']}.json")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(rec["repeatable"], f)
        return
    with open(path) as f:
        prev = json.load(f)
    diff = sorted(k for k in set(prev) | set(rec["repeatable"])
                  if prev.get(k) != rec["repeatable"].get(k))
    rec["checks"].append({"name": "repeats_earlier_run_of_same_seed", "ok": not diff,
                          "detail": ", ".join(diff[:5])})


def report(rec, e2e, specific, layer):
    """Human-readable lines: every metric by name, unit and sample count."""
    lines = [f"workload {rec['workload']}  seed {rec['seed']}  {rec['master']}  "
             f"traced={rec['traced']}  timed ops {len(rec['ops'])}"]
    units = dict(stats.END_TO_END)
    for name, (v, n) in e2e.items():
        lines.append(f"  {name:28s} {v:14.4f} {units.get(name, 'ms'):6s} n={n}")
    for name, (v, n, unit) in specific.items():
        lines.append(f"  {name:28s} {v:14.4f} {unit:6s} n={n}")
    for c in rec["checks"]:
        lines.append(f"  check {c['name']}: {'ok' if c['ok'] else 'FAILED ' + c['detail']}")
    if layer is not None:
        lu = dict(stats.per_layer_names())
        for name, v in layer.items():
            if v:
                lines.append(f"  {name:28s} {v:14.4f} {lu[name]}")
        by_file = {k: round(v, 2) for k, v in stats.jobs_by_file(rec).items()}
        lines.append("  jobs per operation by innermost engine file: " + json.dumps(by_file))
    return "\n".join(lines)


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    deadline = time.time() + TIME_LIMIT_S
    try:
        b = build.build(ROOT)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    # a first build may take long; the run itself keeps its own budget
    deadline = max(deadline, time.time() + 120)
    base = os.path.join(ROOT, ".bench_build")
    work = os.path.join(base, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    try:
        data = os.path.join(work, "data")
        manifest = gen.generate(a.workload, a.seed, data)
        run_jvm(b, [a.workload, data, work, str(a.seed), str(a.seconds), str(a.trace),
                    str(cpus()), out], work, deadline)
        with open(out) as f:
            rec = json.load(f)
        check_repeat(base, b.id, rec)
        e2e, specific, attempted, failed = stats.end_to_end(rec)
        layer = stats.per_layer(rec) if a.trace else None
        runs = os.path.join(base, "runs")
        os.makedirs(runs, exist_ok=True)
        with open(os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump({"manifest": manifest, "record": rec}, f)
    except RuntimeError as e:
        print(str(e), file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(report(rec, e2e, specific, layer))
    if a.trace:
        # the per-layer metrics that BENCHMARK.json lists; the report above
        # has every one
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            listed = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
        values = [(n, u, layer[n]) for n, u in listed]
    else:
        values = [(n, u, e2e[n][0]) for n, u in stats.END_TO_END]
    # a metric with no sample (every operation failed) reads 0; `correct`
    # and `failed` already say why
    metrics = {n: {"value": v if math.isfinite(v) else 0.0, "unit": u} for n, u, v in values}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
