#!/usr/bin/env python3
"""The repository benchmark: one workload per run.

    python3 perfbench/run.py --workload live-chat --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and
the harness (sbt, offline); later runs reuse the build while the
sources are unchanged. Everything a run writes goes under `.perfbench/`.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`). The lines before
it print every metric by name with its unit, the host calibration and,
for a traced run, the tracing overhead. The full record of the run is
written to `.perfbench/records/`.

See perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
CLASSES_JSON = os.path.join(ROOT, "src", "main", "resources", "graft", "classifier_classes.json")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Why each workload exists is in README.md; these are its fixed settings.
# live-chat's trigger is 2 s, not the reference CLI's smallest 1 s: a
# trigger of the two-query topology takes about 0.9-1.2 s on a 4-core VM,
# so a 1 s trigger runs saturated and queueing amplifies every host slowdown.
WORKLOADS = {
    "live-chat": dict(kind="stream", rate=1000.0, interval="2 seconds",
                      warm_lines=1000, setups=3, kernel_lines=20000),
    "query-library": dict(kind="library"),
}


def log(msg):
    print(msg, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spin_ms():
    """Fixed single-core loop: a throttled or busy host shows as a larger value."""
    t = time.perf_counter()
    x = 0
    for _ in range(2_000_000):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
    return (time.perf_counter() - t) * 1e3


def per_10s(seconds):
    """Timed passes of a library run for --seconds (about 10 s each)."""
    return max(1, round(seconds / 10))


# ------------------------------------------------------------------ build

def source_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            os.path.join(HERE, "harness")]
    files = [os.path.join(ROOT, "build.sbt")]
    for top in tops:
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def record_digest():
    """Digest of the program, the harness and this benchmark's own code
    and settings: records with another digest measured something else."""
    h = hashlib.sha256(source_digest().encode())
    for f in sorted(os.listdir(HERE)):
        if f.endswith(".py"):
            with open(os.path.join(HERE, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the harness; return the runtime classpath."""
    stamp = os.path.join(WORK, "build", source_digest() + ".classpath")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    logf = os.path.join(WORK, "build", "sbt.log")
    with open(logf, "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                             "export Runtime/fullClasspath"],
                            cwd=os.path.join(HERE, "harness"), env=env, stdout=out,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(logf) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "perfbench" not in cp or "[" in cp[:1]:
        sys.stderr.write("build failed; see " + logf + "\n" + "\n".join(lines[-20:]) + "\n")
        sys.exit(3)
    with open(stamp, "w") as f:
        f.write(cp)
    return cp


# ------------------------------------------------------------------ runs

class Procs:
    """Every child process of a run; all are stopped and reaped on exit."""

    def __init__(self):
        self.procs = []

    def start(self, cmd, logpath, **kw):
        out = open(logpath, "w")
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, **kw)
        self.procs.append((p, out))
        return p

    def stop_all(self):
        for p, out in self.procs:
            if p.poll() is None:
                p.terminate()
                try:
                    p.wait(10)
                except subprocess.TimeoutExpired:
                    p.kill()
                    p.wait()
            out.close()
        self.procs = []


def run_jvm(procs, cp, args, logpath, timeout):
    tmp = os.path.join(args["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()]
    p = procs.start(cmd, logpath, cwd=ROOT)
    try:
        rc = p.wait(timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        rc = -9
    if rc != 0:
        with open(logpath, errors="replace") as f:
            tail = f.readlines()[-40:]
        sys.stderr.write(f"harness exited with {rc}; see {logpath}\n" + "".join(tail))
        raise SystemExit(4)


def stream_once(cp, workload, seed, seconds, trace, work):
    w = WORKLOADS[workload]
    topics = gen.load_topics(CLASSES_JSON)
    procs = Procs()
    try:
        ports = os.path.join(work, "ports.json")
        sendlog = os.path.join(work, "sendlog.json")
        srv = procs.start([sys.executable, os.path.join(HERE, "ircserver.py"), "--seed", str(seed),
                           "--topics", CLASSES_JSON,
                           "--port-file", ports, "--log", sendlog],
                          os.path.join(work, "server.log"))
        deadline = time.time() + 30
        while not os.path.exists(ports):
            if srv.poll() is not None or time.time() > deadline:
                raise SystemExit("fake IRC server did not start")
            time.sleep(0.02)
        with open(ports) as f:
            port = json.load(f)
        kernel_file = os.path.join(work, "kernel_lines.txt")
        if trace:
            with open(kernel_file, "w") as f:
                for nick, body in gen.messages(seed, topics, w["kernel_lines"]):
                    f.write(gen.irc_line(nick, body) + "\n")
        result = os.path.join(work, "result.json")
        run_jvm(procs, cp, {
            "workload": workload, "trace": int(trace), "cores": cores(), "work": work,
            "result": result, "spans": os.path.join(work, "spans.jsonl"),
            "irc_port": port["irc"], "ctl_port": port["ctl"], "channel": gen.CHANNEL,
            "seconds": seconds, "rate": w["rate"], "interval": w["interval"],
            "warm_lines": w["warm_lines"], "setups": w["setups"], "kernel_lines": kernel_file,
        }, os.path.join(work, "harness.log"), timeout=170)
        try:
            srv.wait(15)
        except subprocess.TimeoutExpired:
            pass
    finally:
        procs.stop_all()
    with open(result) as f:
        res = json.load(f)
    with open(sendlog) as f:
        slog = json.load(f)
    msgs = gen.messages(seed, topics, len(slog["emit"]))
    return res, slog, msgs, topics


def library_once(cp, seed, seconds, trace, work):
    fixtures = os.path.join(work, "fixtures")
    gen.write_fixtures(seed, fixtures)
    oracle = check.load_oracle(os.path.join(HERE, "data", "oracle_sql.json"))
    procs = Procs()
    result = os.path.join(work, "result.json")
    try:
        run_jvm(procs, cp, {
            "workload": "query-library", "trace": int(trace), "cores": cores(), "work": work,
            "result": result, "spans": os.path.join(work, "spans.jsonl"),
            "fixtures": fixtures, "queries": ",".join(sorted(oracle)),
            "passes": per_10s(seconds),
        }, os.path.join(work, "harness.log"), timeout=170)
    finally:
        procs.stop_all()
    with open(result) as f:
        res = json.load(f)
    return res, oracle, fixtures


def one_pass(cp, workload, seed, seconds, trace, work):
    """Run the workload once; return (end-to-end metrics, correctness,
    per-layer metrics (traced only), also_reported figures)."""
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    if WORKLOADS[workload]["kind"] == "stream":
        res, slog, msgs, topics = stream_once(cp, workload, seed, seconds, trace, work)
        stopwords = check.load_stopwords(os.path.join(HERE, "data", "stopwords_english.txt"))
        corr = check.stream_correctness(res, msgs, topics, stopwords, gen.CHANNEL)
        e2e = metrics.stream_e2e(res, slog)
        layers = metrics.stream_layers(res, slog, cores(), work) if trace else {}
    else:
        slog = None
        res, oracle, fixtures = library_once(cp, seed, seconds, trace, work)
        corr = check.library_correctness(res, oracle, fixtures, work)
        e2e = metrics.library_e2e(res)
        layers = metrics.library_layers(res, cores(), work) if trace else {}
    return e2e, corr, layers, metrics.also_reported(res, e2e, workload, slog)


def recorded_untraced(workload, seconds, digest):
    """Median end-to-end metrics of the untraced runs of `workload` in
    `.perfbench/records/` made with the same record digest, or None when
    there are none."""
    d = os.path.join(WORK, "records")
    runs = []
    for f in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        if f.startswith(workload + "-seed") and f.endswith("-trace0.json"):
            with open(os.path.join(d, f)) as fh:
                r = json.load(fh)
            if (r.get("digest") == digest and r["seconds"] == seconds
                    and r["correctness"]["failed"] == 0):
                runs.append({k: m["value"] for k, m in r["end_to_end"].items()})
    keys = {k for r in runs for k in r}
    return {k: statistics.median(r[k] for r in runs if k in r) for k in keys} or None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops the processes it started (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.stderr.write("no program source next to perfbench/ (build.sbt, src/main/scala)\n")
        sys.exit(2)
    cp = build()
    spin_before = spin_ms()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}")
    layers, overhead = {}, {}
    if a.trace:
        # tracing overhead = traced - untraced: against the untraced
        # records of the workload made with this record digest when there
        # are any (median per metric), else against an untraced pass made now
        untraced, ref_runs = recorded_untraced(a.workload, a.seconds, record_digest()), "records"
        corr = {"attempted": 0, "failed": 0, "errors": []}
        if untraced is None:
            u_e2e, corr, _, _ = one_pass(cp, a.workload, a.seed, a.seconds, False, run_dir + "-untraced")
            untraced, ref_runs = {k: v for k, (v, _) in u_e2e.items()}, "this run"
        e2e, t_corr, layers, named = one_pass(cp, a.workload, a.seed, a.seconds, True, run_dir + "-traced")
        overhead = {k: e2e[k][0] - untraced[k] for k in e2e if k in untraced}
        corr = check.merge(corr, t_corr)
    else:
        e2e, corr, _, named = one_pass(cp, a.workload, a.seed, a.seconds, False, run_dir + "-untraced")
    spin_after = spin_ms()
    named["error_rate"] = (corr["failed"] / corr["attempted"], "fraction")

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "digest": record_digest(), "cores": cores(), "spin_ms_before": spin_before, "spin_ms_after": spin_after,
              "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
              "also_reported": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
              "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
              "tracing_overhead": overhead, "correctness": corr}
    if a.trace:
        record["tracing_overhead_reference"] = ref_runs
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_path = os.path.join(WORK, "records", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)

    log(f"# workload {a.workload} seed {a.seed} cores {cores()} seconds {a.seconds}")
    log(f"# spin_ms before {spin_before:.2f} after {spin_after:.2f}")
    for k, (v, u) in e2e.items():
        log(f"{k} {v:.6g} {u}")
    for k, (v, u) in named.items():
        log(f"{k} {v:.6g} {u}")
    for k, (v, u) in sorted(layers.items()):
        log(f"{k} {v:.6g} {u}")
    for k, d in overhead.items():
        log(f"tracing_overhead.{k} {d:+.6g} {e2e[k][1]} (untraced: {ref_runs})")
    for m in corr["errors"][:20]:
        log(f"# error: {m}")
    log(f"# record {os.path.relpath(rec_path, ROOT)}")
    chosen = layers if a.trace else e2e
    print(json.dumps({"correct": corr["failed"] == 0, "attempted": corr["attempted"],
                      "failed": corr["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))


if __name__ == "__main__":
    main()
