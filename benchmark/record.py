"""Run every workload, untraced and traced, and write RECORD.md.

    python3 benchmark/record.py --seed 1 --seconds 4

Prints each run's report, with every metric by name, unit and sample
count, and its correctness verdict. Then it rewrites
`benchmark/RECORD.md` with the same reports.
"""
import argparse
import datetime
import os
import platform
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["train_stream", "curate_corpus", "ann_index", "query_mix"]


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=4)
    a = p.parse_args(argv)
    commit = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=HERE,
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True).stdout.strip()
    sections = []
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(trace)]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            out = r.stdout.strip() if r.returncode == 0 else f"exit {r.returncode}\n{r.stderr[-2000:]}"
            ok &= r.returncode == 0 and '"correct": true' in out
            print(out, flush=True)
            report = "\n".join(out.splitlines()[:-1]) if r.returncode == 0 else out
            sections.append(f"### `{w}`, trace {trace}\n\n```\n{report}\n```\n")
    header = (f"# Benchmark record\n\nMade with `python3 benchmark/record.py --seed {a.seed} "
              f"--seconds {a.seconds:g}`, engine at commit `{commit or 'unknown'}`, on "
              f"{datetime.date.today().isoformat()}, {os.cpu_count()} CPUs, "
              f"{platform.system()} {platform.machine()}. One run per workload and trace "
              "mode; single runs on a shared box drift, so compare counts, and compare "
              "times only across interleaved runs.\n\n")
    with open(os.path.join(HERE, "RECORD.md"), "w") as f:
        f.write(header + "\n".join(sections))
    print("all correct" if ok else "SOME RUNS FAILED OR WERE INCORRECT")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
