#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured for a fixed time.

    python3 perfbench/run.py --workload summarize --seed 1 --seconds 10 --trace 0

Run from the repo root. It builds the engine and the benchmark from
source (see build.py), writes seeded inputs, runs one JVM at
local[<cores>], checks the answers, and prints every metric by name as
the last lines of stdout, the final one a JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones. Scratch files
go to .bench_work/<workload>/ under the root; spans.jsonl there holds the
traced run's spans. See README.md for the metric catalogue.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402

JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Input sizes per workload.
SUMMARIZE = dict(events=40_000, batches=4, batch=1_000, users=2_000,
                 objects=500)
CORPUS = dict(docs=300)
GRAPH = dict(events=4_000, users=1_000, objects=8_000)


def edges_of(table):
    """Distinct (user, object) pairs over the well-formed events."""
    objs = [inputs.object_of(p) for p in table.column("props").to_pylist()]
    users = table.column("user_id").to_pylist()
    return len({(u, o) for u, o in zip(users, objs) if o is not None})


def make_inputs(workload, seed, d):
    """The workload's seeded input files and their sizes (meta.json) in d."""
    os.makedirs(d)
    meta = {}
    if workload == "summarize":
        n, k, b = SUMMARIZE["events"], SUMMARIZE["batches"], SUMMARIZE["batch"]
        t = inputs.events(seed, workload, n + k * b, SUMMARIZE["users"],
                          SUMMARIZE["objects"])
        inputs.write(t.slice(0, n), os.path.join(d, "events.parquet"))
        for i in range(k):
            inputs.write(t.slice(n + i * b, b),
                         os.path.join(d, f"batch-{i:04d}.parquet"))
        meta.update(events=n, batches=k, batch_events=b)
    elif workload == "corpus_clean":
        t = inputs.documents(seed, workload, CORPUS["docs"])
        inputs.write(t, os.path.join(d, "documents.parquet"))
        meta["docs"] = t.num_rows
    elif workload == "graph_fixpoint":
        t = inputs.events(seed, workload, GRAPH["events"], GRAPH["users"],
                          GRAPH["objects"])
        inputs.write(t, os.path.join(d, "events.parquet"))
        meta["edges"] = edges_of(t)
    with open(os.path.join(d, "meta.json"), "w") as f:
        json.dump(meta, f)


def declared_metrics(root, key):
    """Metric names BENCHMARK.json declares under `key`, if it is there."""
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return {m["name"] for m in json.load(f)[key]}


def run_jvm(cmd, log_path, timeout):
    """Runs the JVM in its own process group; on a timeout, or if this
    script is told to stop, the whole group is killed and waited for."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["summarize", "corpus_clean", "graph_fixpoint"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.monotonic()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        sys.stderr.write("run.py: no engine sources here; run from the repo root\n")
        return 2
    classes, jars = build.ensure(root)

    t0 = time.time_ns()  # the set-up clock: inputs, JVM, session, first read
    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "inputs")
    make_inputs(a.workload, a.seed, in_dir)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"] + opens +
           ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graftbench.Main", a.workload, str(a.seed), str(a.seconds),
            str(a.trace), work, in_dir, str(t0)])
    log_path = os.path.join(work, "jvm.log")
    left = JVM_TIMEOUT_S - (time.monotonic() - started)
    rc = run_jvm(cmd, log_path, max(10.0, left))
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.stderr.write(f"run.py: benchmark JVM ended with {rc}\n")
        return 1
    with open(result_path) as f:
        res = json.load(f)

    bad = oracle.check(in_dir, os.path.join(work, "check"), res["oracle"],
                       os.path.join(root, ".bench_work", "oracle-cache"))
    for name, why in bad:
        sys.stderr.write(f"run.py: oracle mismatch {name}: {why}\n")
    attempted = res["attempted"]
    failed = res["failed"] + len(bad)

    e2e = res["end_to_end"]
    layers = res["per_layer"]
    if a.trace:
        plain, traced = res["passes"]["untraced"], res["passes"]["traced"]
        for name, key in (("freshness", "freshness_p50_s"),
                          ("query", "query_p50_ms")):
            v, base = traced[key]["value"], plain[key]["value"]
            layers[f"trace.overhead_{name}_pct"] = {
                "value": (v / base - 1) * 100 if base > 0 else 0.0,
                "unit": "%", "samples": 1}

    def show(group, metrics):
        for name, m in metrics.items():
            print(f"{group:8s} {name:42s} {m['value']:>16.6g} {m['unit']:12s} "
                  f"n={m['samples']}")

    print(f"# graft benchmark: workload={a.workload} seed={a.seed} "
          f"seconds={a.seconds:g} trace={a.trace}")
    show("traced" if a.trace else "end2end", e2e)
    show("info", res["info"])
    print(f"{'info':8s} {'error_rate':42s} {failed / max(attempted, 1):>16.6g} "
          f"{'ratio':12s} n={attempted}")
    if a.trace:
        show("layer", layers)
    measured = layers if a.trace else e2e
    declared = declared_metrics(root, "per_layer" if a.trace else "end_to_end")
    if declared is None:
        declared = set(measured)
    if not declared <= set(measured):
        sys.stderr.write("run.py: BENCHMARK.json declares metrics this run "
                         f"lacks: {sorted(declared - set(measured))}\n")
        return 1
    metrics = {n: {"value": m["value"], "unit": m["unit"]}
               for n, m in measured.items() if n in declared}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
