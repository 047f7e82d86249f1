"""The repo's benchmark: one closed-loop, single-client run of one workload.

    python3 e2ebench/run.py --workload chat|analytics --seed N \
        [--seconds S] [--trace 0|1]

Builds the engine from source if needed (`build.py`), generates the
workload's inputs from the seed (`oplog.py`), runs the harness JVM on a
fresh store, checks the outputs, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics; `--trace 1` turns the seam spans and the Spark listener
on and reports the per-layer metrics, and writes the per-layer table to
`.bench_build/e2ebench/rollup-<workload>.md`. Each run replays a fixed
number of ops from the op log; `--seconds` is accepted and recorded, but
never changes the op count. The line before the
last is a `diag` record with host-noise and per-op-type figures.
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

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import oplog  # noqa: E402
import rollup  # noqa: E402

SETUPS = 3
JVM_TIMEOUT_S = 170
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_analytics.json")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

def host_sample():
    """1-min loadavg and the cumulative (steal, total) jiffies of /proc/stat."""
    try:
        load = float(open("/proc/loadavg").read().split()[0])
        cpu = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return load, cpu[7] if len(cpu) > 7 else 0, sum(cpu)
    except (OSError, ValueError):
        return -1.0, 0, 0


def run_jvm(cp, workload, run_dir, trace):
    """Runs the harness on the inputs in `run_dir`/in; returns its record."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-Xss8m",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
           "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    out = os.path.join(run_dir, "record.json")
    cmd += ["-cp", cp, "e2ebench.Main", "--workload", workload,
            "--in", os.path.join(run_dir, "in"), "--work", os.path.join(run_dir, "work"),
            "--tables", os.path.join(build.OUT, "analytics-tables"), "--stamp", build.stamp(),
            "--out", out, "--trace", str(trace), "--setups", str(SETUPS),
            "--cpus", str(min(4, os.cpu_count() or 1))]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:  # never leave the JVM behind, whatever ended the wait
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code is None:
        raise RuntimeError("harness timed out after %d s" % JVM_TIMEOUT_S)
    if code != 0 or not os.path.exists(out):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        raise RuntimeError("harness failed (exit %d):\n%s" % (code, tail))
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def check_chat(record, history, ops):
    """Per session: TokensUsed equals the token sum over its messages, and
    it holds 2 messages per turn, its earlier turns included. Returns the
    failed op indices."""
    turns, earlier = {}, {}
    for i, op in enumerate(ops):
        turns.setdefault(op[2], []).append(i)
    for h in history:
        earlier[h[0]] = earlier.get(h[0], 0) + 1
    bad = set()
    got = {s[0]: s[1:] for s in record["checks"]["sessions"]}
    for s, idxs in turns.items():
        used, tokens, n = got.get(s, (-1, -2, -1))
        if used != tokens or n != 2 * (earlier.get(s, 0) + len(idxs)):
            bad.update(idxs)
    return bad


def check_analytics(record, ops):
    """Each query's row count and content hash equal the recorded values."""
    expected = json.load(open(EXPECTED))
    return {d[0] for d in record["ops"] if d[6] != expected.get(d[2])}


# --------------------------------------------------------------- metrics

def units(workload, record, ops):
    """The latencies (s) of the workload's unit of work, in op order: a chat
    turn, or an analytics pass over every headline query."""
    timed = [d for d in record["ops"] if d[1] == "timed"]
    lat = {d[0]: (d[4] - d[3]) / 1e3 for d in timed}
    if workload == "chat":
        return [lat[d[0]] for d in timed]
    passes = {}
    for d in timed:
        passes[ops[d[0]][2]] = passes.get(ops[d[0]][2], 0.0) + lat[d[0]]
    return [passes[k] for k in sorted(passes, key=int)]


def per_kind(record):
    """Per op type: sample count, p50, and the tail percentile it supports."""
    kinds = {}
    for d in record["ops"]:
        if d[1] == "timed":
            kinds.setdefault(d[2], []).append((d[4] - d[3]) / 1e3)
    out = {}
    for k, xs in sorted(kinds.items()):
        out[k] = {"n": len(xs), "p50_s": statistics.median(xs)}
        p = rollup.tail_percentile(len(xs))
        if p and p != 50:
            out[k]["p%d_s" % p] = rollup.percentile(xs, p)
    return out


def end_to_end(workload, record, ops):
    return {
        "setup_s": (statistics.median(record["setup_s"]), "s"),
        "op_p50_s": (statistics.median(units(workload, record, ops)), "s"),
        "work_s": (sum((d[4] - d[3]) / 1e3 for d in record["ops"] if d[1] == "timed"), "s"),
    }


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "tokens" if name.endswith("tokens") else "count"


def write_table(args, record, ops):
    """Writes the traced run's per-layer table next to the run dirs; adds
    the tracing overhead when an untraced run of the same seed is there."""
    plain = os.path.join(build.OUT, "runs", "%s-%d-0" % (args.workload, args.seed), "record.json")
    untraced = None
    base = None
    if os.path.exists(plain):
        with open(plain) as f:
            base = json.load(f)
    if base and [d[:3] for d in base["ops"]] == [d[:3] for d in record["ops"]]:
        untraced = (statistics.median(units(args.workload, record, ops)),
                    statistics.median(units(args.workload, base, ops)))
    path = os.path.join(build.OUT, "rollup-%s.md" % args.workload)
    with open(path, "w") as f:
        f.write(rollup.table(args.workload, record, untraced))


# ------------------------------------------------------------------ main

def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["chat", "analytics"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args(argv)
    # a SIGTERM unwinds like an exit, so the JVM child is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        cp = build.build()
    except build.BuildError as e:
        print("e2ebench: " + str(e), file=sys.stderr)
        return 2
    run_dir = os.path.join(build.OUT, "runs", "%s-%d-%d" % (args.workload, args.seed, args.trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "in"))
    corpus, history, ops = oplog.generate(args.workload, args.seed)
    oplog.write_tsv(os.path.join(run_dir, "in", "corpus.tsv"), corpus)
    oplog.write_tsv(os.path.join(run_dir, "in", "history.tsv"), history)
    oplog.write_tsv(os.path.join(run_dir, "in", "ops.tsv"), ops)
    h0 = host_sample()
    t0 = time.time()
    try:
        record = run_jvm(cp, args.workload, run_dir, args.trace)
    except RuntimeError as e:
        print("e2ebench: " + str(e), file=sys.stderr)
        return 1
    h1 = host_sample()
    if args.workload == "chat":
        bad = check_chat(record, history, ops)
    else:
        bad = check_analytics(record, ops)
    bad |= {d[0] for d in record["ops"] if not d[5]}
    diag = dict(record["diag"], workload=args.workload, seed=args.seed, trace=args.trace,
                ops=len(ops), seconds_arg=args.seconds, wall_s=time.time() - t0,
                loadavg_before=h0[0], loadavg_after=h1[0],
                steal_share=(h1[1] - h0[1]) / max(1, h1[2] - h0[2]),
                setup_runs_s=record["setup_s"], per_kind=per_kind(record))
    if args.workload == "chat":
        sent = [int(d[6].split(",")[2]) for d in record["ops"] if d[1] == "timed" and d[5]]
        diag["prompt_tokens_timed"] = [min(sent, default=0), max(sent, default=0)]
    if args.trace:
        metrics = rollup.layer_metrics(record, oplog.ANALYTICS_QUERIES)
        metrics = {k: (v, unit_of(k)) for k, v in metrics.items()}
        write_table(args, record, ops)
    else:
        metrics = end_to_end(args.workload, record, ops)
    print(json.dumps({"diag": diag}))
    print(json.dumps({
        "correct": not bad, "attempted": len(ops), "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
