#!/usr/bin/env python3
"""Run one benchmark workload end to end and print its metrics.

    python3 perfbench/run.py --workload gate --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source when they changed,
generates the workload's inputs from the seed, runs the harness in one
JVM, checks every output, and prints one JSON object as the last line of
standard output. Exits 1 when an output is wrong (the inputs and raw
records are then kept, and their directory named), 2 when nothing could
be measured. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from lib import build, check, gen, metrics, stats  # noqa: E402

ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # a run must end within 180 s once built

WORKLOADS = {
    # the paper's own dataflow: parse, pipeline, fetch, sink, connector;
    # no memo, no fixpoint
    "ingest": {"pass_s": 6.5,
               "ingest": dict(portals=24, links=110, delta=12,
                              unconfigured=3, limit=100, conn_portals=10,
                              conn_pages=8, conn_links=15)},
    # q173 (the rank/ntile device): memo-free, bound by construction,
    # Catalyst and sequential jobs; q209: memo builds and a
    # construction-time fixpoint on cutWith, then again with reliable
    # checkpoints
    "gate": {"pass_s": 4.0, "scale": 0.01,
             "queries": ["q173", "q209", "q209@reliable"]},
}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _terminate(signum, frame):
    # SIGTERM unwinds like Ctrl-C, so the JVM is stopped and the work
    # directory removed on the way out
    raise KeyboardInterrupt


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    started = time.time()

    try:
        classpath = build.ensure(ROOT, HERE)
    except build.CompileError as e:
        die(str(e))

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs, out = f"{work}/inputs", f"{work}/out"
    os.makedirs(inputs)
    os.makedirs(f"{work}/tmp")
    keep = False
    try:
        t_gen = time.time()
        if "ingest" in w:
            expect = gen.gen_ingest(inputs, a.seed, **w["ingest"])
        else:
            expect = gen.gen_tables(f"{inputs}/tables", a.seed, w["scale"])
        cmd = build.java_cmd(classpath, work) + [
            "perfbench.Harness", "--workload", a.workload,
            "--inputs", inputs, "--out", out,
            "--warm", str(stats.warm_passes(a.seconds, w["pass_s"],
                                            a.trace)),
            "--trace", str(a.trace),
            "--cpus", str(min(4, os.cpu_count() or 1))]
        if "ingest" in w:
            cmd += ["--limit", str(expect["limit"]),
                    "--min-date", expect["min_date"]]
        else:
            cmd += ["--queries", ",".join(w["queries"])]
        env = dict(os.environ)
        env.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
        budget = DEADLINE_S - (time.time() - started) if build.was_cached() \
            else 880 - (time.time() - started)
        t_jvm = time.time()
        with open(f"{work}/jvm.log", "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=log, env=env)
            try:
                rc = proc.wait(timeout=max(budget, 10))
            except subprocess.TimeoutExpired:
                die("the harness did not finish in time")
            finally:
                if proc.poll() is None:  # timed out or interrupted
                    proc.kill()
                    proc.wait()
        if rc != 0 or not os.path.exists(f"{out}/results.json"):
            tail = open(f"{work}/jvm.log").read()[-3000:]
            die(f"the harness exited with {rc}:\n{tail}")
        t_check = time.time()
        os.makedirs(f"{HERE}/.out", exist_ok=True)
        shutil.copy(f"{out}/results.json", f"{HERE}/.out/{a.workload}-seed"
                    f"{a.seed}-trace{a.trace}-results.json")
        res = json.load(open(f"{out}/results.json"))
        passes = res["passes"]
        if "ingest" in w:
            bad = check.ingest(out, expect, passes)
        else:
            bad = check.gate(out, f"{inputs}/tables", w["queries"], passes)
        for b in bad:
            print(f"MISMATCH {b}")
        if bad:
            keep = True
            print(f"inputs and raw records kept in {work}")
        print(f"bench time: inputs {t_jvm - t_gen:.1f} s, harness "
              f"{t_check - t_jvm:.1f} s (measured {res['measured_s']:.1f} s), "
              f"checks {time.time() - t_check:.1f} s")
        attempted = sum(len(p["ops"]) for p in passes)
        failed = sum(1 for p in passes for o in p["ops"] if o.get("error"))
        if a.trace:
            ms, detail = metrics.per_layer(res, expect)
            with open(f"{HERE}/.out/{a.workload}-seed{a.seed}-trace.json",
                      "w") as f:
                json.dump(detail, f, indent=1)
            if os.path.exists(f"{out}/spans.jsonl"):
                shutil.copy(f"{out}/spans.jsonl", f"{HERE}/.out/"
                            f"{a.workload}-seed{a.seed}-spans.jsonl")
            for line in metrics.detail_table(detail):
                print(line)
        else:
            ms, t = metrics.end_to_end(res)
            for line in metrics.op_table(res):
                print(line)
            print(f"query tail: p{100 * t['percentile']:.0f} of "
                  f"{t['samples']} warm query latencies is "
                  f"{t['value']:.4f} s")
        for k, v in ms.items():
            print(f"{k:28s} {v['value']:.6g} {v['unit']}")
        correct = not bad and failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": ms}))
        sys.stdout.flush()
        sys.exit(0 if correct else 1)
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
