#!/usr/bin/env python3
"""Portal-level benchmark of the graft data lake.

Run from the root of a checkout:

    python3 portalbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

It builds the repository (through portalbench/build.sbt, which depends on
the root build), starts the system process (`portalbench.Portal`: the
portal exactly as `graft.api.Serve` builds it) and one separate generator
process (`portalbench.Load`), measures the timed window, checks every
response, and prints one JSON object as its last line. `--trace 1` runs the
same seeded workload twice with the same arguments: untraced, then
traced through the layers' public functions (`portalbench.Tracer`), and
prints the per-layer metrics and the tracing overhead (traced minus
untraced). README.md in this directory describes the
workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("cdc_ingest", "serve")
SYSTEM_HEAP = "3g"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[portalbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_hash():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the repository and the benchmark; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"portalbench: {need} not found at the checkout root; "
                             "run from a full checkout of the repository")
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fc:
                    return fc.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building (sbt compile)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export portalbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("portalbench: build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


def java_cmd(cp, heap, main, args, extra=()):
    # A fixed heap (-Xms = -Xmx): with a growing heap, when G1 expands it
    # depends on GC time, and the system's peak RSS read 1,100-1,540 MB
    # across seeds of one workload. With the heap fixed, peak_rss_mb is the
    # heap plus what the process holds outside it (README.md).
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", *opens, *extra, "-cp", cp, main]
            + [str(a) for a in args])


def stop(proc, timeout=30):
    if proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(pid):
    with open(f"/proc/{pid}/status") as fh:
        for ln in fh:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


class Pass:
    """One system process plus one generator (untraced), or one traced
    system process, over a fresh work directory."""

    def __init__(self, cp, args, tag):
        self.cp, self.args = cp, args
        self.work = os.path.join(TARGET, "work", f"{os.getpid()}-{tag}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        os.makedirs(os.path.join(self.work, "spark-local"))
        self.procs, self.logs = [], []

    def common(self):
        a = self.args
        return ["--work", self.work, "--workload", a.workload, "--seed", a.seed,
                "--seconds", a.seconds, "--clients", nproc(), "--scale", a.scale]

    def spawn(self, cmd, name):
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()),
                   SPARK_LOCAL_DIRS=os.path.join(self.work, "spark-local"))
        out = open(os.path.join(self.work, f"{name}.log"), "w")
        self.logs.append(out)
        p = subprocess.Popen(cmd, cwd=self.work, env=env, stdin=subprocess.DEVNULL,
                             stdout=out, stderr=subprocess.STDOUT)
        self.procs.append(p)
        return p

    def system_cmd(self, extra_args=()):
        # C1 only (README.md). With TieredStopAtLevel=1 the JVM sizes the
        # code cache at 48 MB, which Spark's generated classes fill:
        # the code-cache sweeper then ran at about half a core and the
        # compiler threads never went idle. 240 MB is the tiered default.
        return java_cmd(self.cp, SYSTEM_HEAP, "portalbench.Portal",
                        self.common() + list(extra_args),
                        ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                         f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
                         f"-Dspark.sql.warehouse.dir={os.path.join(self.work, 'spark-warehouse')}",
                         f"-Dderby.system.home={self.work}"])

    def wait(self, p, name, deadline):
        while p.poll() is None:
            if time.time() > deadline:
                raise RuntimeError(f"{name} did not finish in time")
            for q in self.procs:
                if q is not p and q.poll() not in (None, 0):
                    raise RuntimeError(f"a process of the pass exited with {q.returncode}")
            time.sleep(0.05)
        if p.returncode != 0:
            raise RuntimeError(f"{name} exited with {p.returncode}: {self.tail(name)}")

    def tail(self, name):
        try:
            with open(os.path.join(self.work, f"{name}.log")) as fh:
                return fh.read()[-3000:]
        except OSError:
            return ""

    def close(self):
        for p in self.procs:
            stop(p)
        for f in self.logs:
            f.close()
        shutil.rmtree(self.work, ignore_errors=True)


def untraced(cp, args, tag, deadline):
    """Run the workload through the portal; return the generator's record
    plus the system's peak RSS and the set-up time."""
    t0 = time.time()
    ps = Pass(cp, args, tag)
    try:
        system = ps.spawn(ps.system_cmd(), "system")
        load = ps.spawn(java_cmd(cp, "512m", "portalbench.Load",
                                 ps.common() + (["--corrupt"] if args.corrupt else [])), "load")
        ps.wait(load, "load", deadline)
        rss = peak_rss_mb(system.pid)
        with open(os.path.join(ps.work, "ports.json")) as fh:
            ctl = json.load(fh)["control"]
        try:
            urllib.request.urlopen(urllib.request.Request(
                f"http://127.0.0.1:{ctl}/stop", method="POST"), timeout=10).read()
        except OSError:
            pass
        try:
            system.wait(20)
        except subprocess.TimeoutExpired:
            pass
        with open(os.path.join(ps.work, "load.json")) as fh:
            rec = json.load(fh)
        with open(os.path.join(ps.work, "setup.json")) as fh:
            st = json.load(fh)
        rec["system"] = {k: st[k] for k in ("session_s", "tables_s", "spark_conf", "steps_s",
                                            "jvm_start_epoch_ms", "ready_epoch_ms") if k in st}
        rec["start_epoch_ms"] = t0 * 1000
        rec["peak_rss_mb"] = rss
        rec["setup_s"] = rec["first_timed_epoch_ms"] / 1000.0 - t0
        rec["stopped_epoch_ms"] = time.time() * 1000
        rec["pass_s"] = time.time() - t0
        return rec
    finally:
        ps.close()


def traced(cp, args, deadline):
    """The traced pass: the system process runs the workload itself and
    repeats each operation through the layers (portalbench.Tracer)."""
    t0 = time.time()
    ps = Pass(cp, args, "t")
    try:
        system = ps.spawn(ps.system_cmd(["--trace"]), "system")
        ps.wait(system, "system", deadline)
        with open(os.path.join(ps.work, "trace.json")) as fh:
            rec = json.load(fh)
        rec["setup_s"] = rec["first_timed_epoch_ms"] / 1000.0 - t0
        rec["pass_s"] = time.time() - t0
        traces = os.path.join(TARGET, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(ps.work, "spans.jsonl"),
                    os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
        return rec
    finally:
        ps.close()


def contract():
    """Metric names and units, as BENCHMARK.json at the checkout root lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def e2e(rec):
    m = rec["metrics"]
    return {
        "setup_s": rec["setup_s"],
        "peak_rss_mb": rec.get("peak_rss_mb"),
        "disk_bytes_per_live_byte": m["disk_bytes_per_live_byte"],
        "op_p50_ms": m["op_p50_ms"],
        "ops_per_s": m["ops_per_s"],
    }


def ambient(rec):
    """Recorded beside the result, never used to drop or reweight samples."""
    s, e = rec["window_start"], rec["window_end"]
    return {"nproc": nproc(),
            "steal_ticks": e["steal_ticks"] - s["steal_ticks"],
            "idle_ticks": e["idle_ticks"] - s["idle_ticks"],
            "gc_ms": e["jvm"]["gc_ms"] - s["jvm"]["gc_ms"],
            "gc_count": e["jvm"]["gc_count"] - s["jvm"]["gc_count"],
            "system_jvm_args": e["jvm"]["input_args"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: check against a deliberately wrong expected value")
    args = ap.parse_args()

    e2e_units, layer_units = contract()
    cp = build()
    deadline = time.time() + 170  # every pass ends within 180 s of the build
    log(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} nproc={nproc()}")
    recs = []
    rec = untraced(cp, args, "u", deadline)
    recs.append(rec)
    metrics, units = e2e(rec), e2e_units
    if args.trace == 1:
        base = metrics
        rec = traced(cp, args, deadline)
        recs.append(rec)
        te = e2e(rec)
        metrics = dict(rec["layers"])
        # Tracing overhead: the traced pass minus the untraced pass of the
        # same arguments, run just before it.
        metrics["trace.overhead.op_p50_ms"] = te["op_p50_ms"] - base["op_p50_ms"]
        metrics["trace.overhead.ops_per_s"] = te["ops_per_s"] - base["ops_per_s"]
        units = layer_units
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise SystemExit(f"portalbench: metrics not produced: {missing}")
    attempted = sum(int(r["attempted"]) for r in recs)
    failed = sum(int(r["failed"]) for r in recs)
    for r in recs:
        r["ambient"] = ambient(r)
    print(json.dumps({"detail": recs}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
