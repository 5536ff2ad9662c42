#!/usr/bin/env python3
"""Physical-plan diff of registry queries: the checkout against a parent.

    python3 tools/plan_diff.py --queries all|q1,q2 [--parent REF]
        [--expect q50_near_dup,q156_triplets] [--sf DIR] [--workdir DIR]

Extracts the parent's committed files with `git archive` (as
`tools/bench_pairs.py` does), builds each tree's engine jar with
`benchmark/build.py` (imported, not changed; each tree builds into its own
`.bench_build/`), and runs `graft.Explain <sf> <queries> simple` in both.
Query names are FULL registry keys (`q78_ann_index`, not `q78`); `all` is
every key.

Each plan is normalized before comparing: expression ids (`#123`), object
hashes (`@1a2b3c`), RDD ids (`RDD[12]`), plan ids (`plan_id=7`), adaptive
query stage ids (`ResultQueryStage 15`, numbered per session), lambda
variable ids (`lambda x_95`, numbered per JVM) and each run's working
directory. A query is `identical` when its normalized plan
text is. Otherwise the tool prints the diff of its normalized operator tree
(operator names by depth, exchanges with their partitioning) and, when that
tree is unchanged, the diff of the normalized text. Exits 1 if any query
outside `--expect` differs or fails to explain in either tree, 2 if a build
fails.

`--parent` defaults to HEAD when tracked files have uncommitted changes,
otherwise to HEAD~1. `--workdir` keeps the parent tree and its build in
`DIR/parent-<sha>` for the next run; without it the tree goes to a temp
dir that is removed when done. Writes nothing under `benchmark/`.
"""
import argparse
import difflib
import os
import re
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "benchmark"))
import build as bench_build  # noqa: E402

HEADER = re.compile(r"^===== (\S+)$", re.M)
NORMALIZE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"QueryStage \d+"), "QueryStage"),
    (re.compile(r"lambda (\w+?)_\d+"), r"lambda \1_"),
]
# `+- `, `:- ` and `:  ` runs in front of a physical-plan operator
TREE_PREFIX = re.compile(r"^([ :+\-]*)")


def git(*args):
    return subprocess.run(["git", *args], cwd=REPO, check=True, capture_output=True,
                          text=True).stdout.strip()


def explain(b, queries, sf, cwd):
    """{query: plan text} from one `graft.Explain` run of build `b` in `cwd`."""
    os.makedirs(cwd, exist_ok=True)
    cmd = ["java"] + bench_build.jvm_flags() + [
        f"-Djava.io.tmpdir={cwd}", f"-Dspark.local.dir={cwd}",
        f"-Dspark.sql.warehouse.dir={os.path.join(cwd, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        # untruncated scan filters: a truncation point moves with the
        # width of the ids normalized below
        "-Dspark.sql.maxMetadataStringLength=1000000",
        f"-Dlog4j2.configurationFile={os.path.join(REPO, 'benchmark', 'log4j2.properties')}",
        "-cp", b.classpath, "graft.Explain", sf, ",".join(queries), "simple"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       env=dict(os.environ, SPARK_LOCAL_IP="127.0.0.1"))
    out = p.stdout.replace(cwd, "<cwd>")
    parts = HEADER.split(out)
    plans = {parts[i]: parts[i + 1] for i in range(1, len(parts) - 1, 2)}
    if p.returncode != 0:
        # the query being explained when the run died has no complete plan
        failed = parts[-2] if len(parts) > 1 else "(start)"
        plans.pop(failed, None)
        print(f"  Explain exited {p.returncode} at {failed}: {p.stderr.strip()[-1500:]}",
              file=sys.stderr)
    return plans


def normalized(plan):
    for rx, sub in NORMALIZE:
        plan = rx.sub(sub, plan)
    return [ln.rstrip() for ln in plan.strip().splitlines()]


def operator_tree(lines):
    """Operator names by depth; an exchange keeps its partitioning."""
    tree = []
    for ln in lines:
        if ln.startswith("=="):
            tree.append(ln)
            continue
        pre = TREE_PREFIX.match(ln).group(1)
        body = ln[len(pre):]
        if not body:
            continue
        if body.startswith(("Exchange", "BroadcastExchange", "ShuffleExchange")):
            op = body.split(", [plan_id=")[0]
        else:
            op = re.split(r"[ \[(]", body, maxsplit=1)[0]
        tree.append(" " * len(pre) + op)
    return tree


def diff(a, b, name):
    return "\n".join(difflib.unified_diff(a, b, f"parent/{name}", f"change/{name}",
                                          lineterm="", n=2))


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--queries", required=True, help="all, or comma-separated registry keys")
    p.add_argument("--parent", help="git ref of the parent (see above for the default)")
    p.add_argument("--expect", default="", help="queries allowed to differ")
    p.add_argument("--sf", default="/root/testdata/sf0.01", help="scale-factor data dir")
    p.add_argument("--workdir", help="keep the parent tree and its build here")
    a = p.parse_args(argv)

    expect = {q for q in a.expect.split(",") if q}
    parent = a.parent or ("HEAD" if git("status", "--porcelain", "--untracked-files=no")
                          else "HEAD~1")
    sha = git("rev-parse", "--verify", parent + "^{commit}")
    base = a.workdir or tempfile.mkdtemp(prefix="plan-diff-")
    tree = os.path.join(os.path.abspath(base), "parent-" + sha[:12])
    print(f"parent {parent} ({sha[:12]}) vs checkout {REPO}; sf {a.sf}", flush=True)
    try:
        if not os.path.isfile(os.path.join(tree, "build.sbt")):
            os.makedirs(tree, exist_ok=True)
            archive = subprocess.Popen(["git", "archive", sha], cwd=REPO,
                                       stdout=subprocess.PIPE)
            subprocess.run(["tar", "-x", "-C", tree], stdin=archive.stdout, check=True)
            if archive.wait() != 0:
                sys.exit(f"git archive {parent} failed")
        try:
            builds = {"parent": bench_build.build(tree), "change": bench_build.build(REPO)}
        except bench_build.BuildError as e:
            print(e, file=sys.stderr)
            return 2
        queries = a.queries
        plans = {}
        for side, b in builds.items():
            cwd = tempfile.mkdtemp(prefix=f"explain-{side}-")
            try:
                plans[side] = explain(b, [] if queries == "all" else queries.split(","),
                                      a.sf, cwd)
            finally:
                shutil.rmtree(cwd, ignore_errors=True)
    finally:
        if not a.workdir:
            shutil.rmtree(base, ignore_errors=True)

    names = sorted(set(plans["parent"]) | set(plans["change"]))
    same, differ, bad = 0, [], []
    for q in names:
        if q not in plans["parent"] or q not in plans["change"]:
            side = "parent" if q not in plans["parent"] else "change"
            print(f"MISSING    {q}: no plan in the {side} tree")
            bad.append(q)
            continue
        pa, ch = normalized(plans["parent"][q]), normalized(plans["change"][q])
        if pa == ch:
            print(f"identical  {q}")
            same += 1
            continue
        differ.append(q)
        if q not in expect:
            bad.append(q)
        ta, tc = operator_tree(pa), operator_tree(ch)
        tag = "expected " if q in expect else "DIFFERS  "
        if ta != tc:
            print(f"{tag} {q}: operator tree\n{diff(ta, tc, q)}")
        else:
            print(f"{tag} {q}: same operator tree, text\n{diff(pa, ch, q)}")
    print(f"{same} identical, {len(differ)} differ "
          f"({len(set(differ) & expect)} expected), {len(bad)} bad", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
