"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ctran_analytics --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark driver from source with sbt (offline) into `perfbench/target`;
runs record their work files, logs and spans under `.bench_build/`. The
last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("ctran_week", "snapshot_cdc", "corpus_build")
HEAP = "2g"
YOUNG = "256m"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# End-to-end metrics, with units. Set-up and operation costs are process
# CPU time without the JIT compiler's: on a host whose hypervisor steals a
# varying share of the CPUs, wall times of the same work spread several
# times wider (the detail line still gives them).
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_cpu_ms": "ms",
    "unit_cpu_ms": "ms",
}


def layer_unit(name):
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if name.endswith("_pct"):
        return "%"
    if name.endswith(("_bytes", "_per_record")) or name.startswith("io.bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_skew", "_wall")):
        return "ratio"
    return "count"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(workload):
    """Compile with sbt once per source tree; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources (src/main/scala/graft): run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            stdin=subprocess.DEVNULL, timeout=850)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and ".jar" in l]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    # a run of the workload with a zero deadline (set-up and warm-up, no
    # measured operation; its result is dropped) records the jar classes
    # it loads in a class-data-sharing archive, which every measured run
    # then maps: it saves seconds of JVM and Spark start-up in each
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    run_jvm(cp, argparse.Namespace(workload=workload, seed=0, seconds=0, trace=0),
            [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, a, cds=None):
    name = f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", name)
    out = os.path.join(BUILD, "work", name + ".json")
    log_dir = os.path.join(BUILD, "logs")
    os.makedirs(log_dir, exist_ok=True)
    # A fixed heap and young generation make the resident-set peak depend
    # on the work, not on how the collector sized itself this time; fixed
    # sets of collector and JIT threads let the driver read their CPU
    # time apart. The JIT stops at C1: in a run of under a minute, C2
    # never reaches a steady state on Spark's code, so an operation's CPU
    # kept falling from one repetition to the next and its median
    # measured the compiler's progress; C1 code is steady after the
    # warm-up.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC",
            "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UseDynamicNumberOfGCThreads",
            "-XX:TieredStopAtLevel=1", *(cds or [f"-XX:SharedArchiveFile={ARCHIVE}"])] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out])
    os.makedirs(work, exist_ok=True)
    log = os.path.join(log_dir, name + ".log")
    try:
        with open(log, "w") as err:
            p = subprocess.run(cmd, cwd=ROOT, stdout=err, stderr=err,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        if p.returncode != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"workload run failed (exit {p.returncode}), see {log}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(out):
            os.remove(out)


def walls(xs):
    return [x[0] for x in xs]


def cpus(xs):
    return [x[1] for x in xs]


# CPU milliseconds of one calibration task (`Calib` in Main.scala) on the
# 4-core host when its other tenants were quiet. Each sample's CPU time is
# scaled by this over the calibration taken around it, so the metrics read
# as CPU milliseconds at that speed.
CALIB_REF_MS = 30.0


def scaled(xs):
    """CPU times of samples [wall, cpu, calibration], at the reference speed."""
    return [x[1] * CALIB_REF_MS / x[2] for x in xs]


def metrics_of(r):
    """End-to-end metrics of one run; an empty sample set reads 0."""
    return {
        "setup_s": stats.median(scaled(r["setup"])) / 1e3,
        "peak_rss_mb": r["peak_rss_kb"] / 1024.0,
        "op_cpu_ms": stats.median(scaled(r["op"])) if r["op"] else 0.0,
        "unit_cpu_ms": sum(scaled(r["work"])) / r["units"] if r["units"] else 0.0,
    }


NAMES = {
    "ctran_week": ("hotspot", "scan_query", "record_k"),
    "snapshot_cdc": ("commit", "read_where", "op"),
    "corpus_build": ("build", None, "doc"),
}

# The layers each workload's traced run must show: there every per-layer
# metric of these layers reads non-zero, or the run fails its check.
LAYERS = {
    "ctran_week": ("plan", "sched", "exec", "shuffle", "io", "ingest", "transform",
                   "load", "stops", "stream", "analytics", "trace"),
    "snapshot_cdc": ("plan", "sched", "exec", "io", "layout", "trace"),
    "corpus_build": ("plan", "sched", "exec", "shuffle", "text", "dedup", "curate",
                     "trace"),
}
# Per-layer metrics whose right reading may be 0 on every workload.
MAY_BE_ZERO = {
    "shuffle.spill_bytes": "inputs fit the 2 GB heap, so nothing spills",
    "trace.overhead_pct": "a signed difference of two medians",
}


def zero_layers(workload, layers):
    """The per-layer metrics the workload must show that read 0."""
    return sorted(k for k, v in layers.items()
                  if k.split(".")[0] in LAYERS[workload] and k not in MAY_BE_ZERO and v == 0)


def detail(r):
    """The run under the workload's own names: wall-clock medians and
    tails with their sample counts and percentiles, CPU medians, the work
    rate, the median calibration, and the session start and JIT time left
    out of the metrics. CPU figures here are not scaled by calibration."""
    op, aux, unit = NAMES[r["workload"]]
    busy_ms = sum(walls(r["work"]))
    out = {f"{unit}s_per_s": 1e3 * r["units"] / busy_ms if busy_ms else 0.0,
           "steps": r["steps"], "steps_planned": r["steps_planned"],
           "session_wall_s": r["session"][0] / 1e3, "session_cpu_s": r["session"][1] / 1e3,
           "setup_wall_s": stats.median(walls(r["setup"])) / 1e3,
           "calib_ms": stats.median([x[2] for x in r["work"] + r["setup"]]),
           "jit_cpu_s": r["jit_cpu_ms"] / 1e3, "gc_cpu_s": r["gc_cpu_ms"] / 1e3,
           "busy_cpu_s": sum(cpus(r["work"])) / 1e3}
    sets = dict(r["extra"], **{op: r["op"]})
    if aux:
        sets[aux] = r["aux"]
    for name, xs in sorted(sets.items()):
        out[f"{name}_samples"] = len(xs)
        if xs:
            v, pct = stats.tail(walls(xs))
            out[f"{name}_p50_ms"] = stats.median(walls(xs))
            out[f"{name}_tail_ms"] = v
            out[f"{name}_tail_percentile"] = pct
            out[f"{name}_cpu_p50_ms"] = stats.median(cpus(xs))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build(a.workload)
    r = run_jvm(cp, a)
    correct = r["failed"] == 0 and r["attempted"] > 0
    if a.trace:
        layers = dict(r["layers"])
        layers["trace.overhead_pct"] = stats.overhead_pct(r["costs"])
        zeros = zero_layers(a.workload, layers)
        if zeros:
            print(f"perfbench: layers read 0: {', '.join(zeros)}", file=sys.stderr)
        correct = correct and not zeros
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())}
    else:
        # the metrics need samples of the workload's operations
        correct = correct and bool(r["op"]) and r["units"] > 0
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics_of(r).items()}
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "detail": detail(r), "correct": correct,
              "attempted": r["attempted"], "failed": r["failed"], "metrics": metrics}
    with open(os.path.join(BUILD, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"workload": a.workload, "seed": a.seed, "detail": record["detail"]}))
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
