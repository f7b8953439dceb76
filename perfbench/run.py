#!/usr/bin/env python3
"""Benchmark of the duvaspark engine: one run of one workload.

    python3 perfbench/run.py --workload sync|curation --seed N \
        --seconds N --trace 0|1

Run from the repository root. The first run compiles the engine and the
benchmark's load generator with the Scala compiler that ships among the
Spark jars; later runs reuse the build. The curation workload reads the
tables under perfbench/data/; the sync workload makes its inputs from the
seed. Everything a run writes goes
under `.bench_build/` in the repository root. The last line of standard
output is one JSON object with the run's verdict and metrics (end-to-end
metrics with `--trace 0`, per-layer metrics with `--trace 1`); the lines
before it print the same run under the metric names of
perfbench/METRICS.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True      # a run writes only under .bench_build/

import oracle  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DATA, WARM_DATA = (os.path.join(HERE, "data", d) for d in ("sf0.1", "sf0.001"))
RUN_LIMIT_S = 170
HEAP = "4g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_logged(cmd, cwd, env, log, timeout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def sources():
    """The Scala sources and resources the benchmark's classes are built from."""
    found = []
    for top in ("src/main/scala", "src/main/resources", "perfbench/src/main/scala"):
        found += sorted(os.path.join(d, f) for d, _, fs in os.walk(os.path.join(ROOT, top))
                        for f in fs)
    return found


def jar_dir():
    """The Spark jar directory the engine's build.sbt declares as its
    `unmanagedBase`."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not (m and glob.glob(os.path.join(m.group(1), "spark-core_*.jar"))):
        fail("the engine's build.sbt names no unmanagedBase that holds the Spark jars")
    return m.group(1)


def build():
    """Compile the engine and the benchmark with the Scala compiler that
    ships among the Spark jars; return the runtime classpath.

    The classes go to `.bench_build/perfbench/classes`, so a build writes
    nothing outside that directory. A build is reused while the sources
    are unchanged.
    """
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to perfbench/ (build.sbt, src/main/scala)")
    jars = jar_dir()
    files = sources()
    h = hashlib.sha1(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    classes = os.path.join(WORK, "classes")
    resources = os.path.join(ROOT, "src", "main", "resources")
    cp = os.pathsep.join([classes, resources, os.path.join(jars, "*")])
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f).get("sources") == digest and os.path.isdir(classes):
                return cp, digest
        os.remove(stamp)
    scalac = [p for n in ("compiler", "library", "reflect")
              for p in glob.glob(os.path.join(jars, f"scala-{n}-2.13.*.jar"))]
    if len(scalac) != 3:
        fail(f"no Scala 2.13 compiler among the jars in {jars!r}")
    out, tmp = os.path.join(WORK, "classes.tmp"), os.path.join(WORK, "tmp")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(tmp, exist_ok=True)
    args = os.path.join(WORK, "scalac.args")
    with open(args, "w") as f:
        f.write("".join(f'"{os.path.relpath(p, ROOT)}"\n' for p in files
                        if p.endswith(".scala")))
    log = os.path.join(WORK, "build.log")
    code = run_logged(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                       f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(scalac),
                       "scala.tools.nsc.Main", "-nowarn", "-d", out,
                       "-classpath", os.path.join(jars, "*"), "@" + args],
                      ROOT, dict(os.environ), log, 800)
    if code != 0:
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(out, classes)
    with open(stamp, "w") as f:
        json.dump({"sources": digest}, f)
    return cp, digest


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def data_digest(path):
    """Identity of an input directory: the digest of its files' contents."""
    h = hashlib.sha1()
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def fmt_tail(xs):
    v, p, n, beyond = stats.tail(xs)
    return v, f"p{p} of {n}, {beyond} beyond"


def summarize(rec, phase):
    """Whole-run values of one phase, keyed by metric name."""
    get_ms = [x * 1e3 for x in stats.timed(phase["gets"])]
    return {
        "setup_s": rec["setup_s"],
        "pass_s": stats.median(stats.pass_times(phase["ops"])),
        "op_p50_s": stats.median(stats.timed(phase["ops"])),
        "api_get_p50_ms": stats.median(get_ms),
        "api_get_tail_ms": stats.tail(get_ms)[0],
        "peak_rss_mb": rec["peak_rss_mb"],
    }


def report(rec, phase, args):
    """The run under its per-workload metric names (METRICS.md), one per line."""
    w, ops, gets = rec["workload"], phase["ops"], phase["gets"]
    env = rec["env"]
    lat = stats.timed(ops)
    get_ms = [x * 1e3 for x in stats.timed(gets)]
    every = ops + gets
    lines = [f"perfbench {w} seed={args.seed} seconds={args.seconds} "
             f"nproc={env['nproc']} local_width={env['local_width']} "
             f"heap_mb={env['heap_max_mb']} jdk='{env['jdk']}' spark={env['spark']} "
             f"commit={rec['commit']} sources={rec['sources']} data={rec['data']}",
             f"  setup_s {rec['setup_s']:.4f} s ("
             + ", ".join(f"{k} {v:.3f}" for k, v in rec["setup_parts_s"].items()) + ")",
             f"  fail_ratio {stats.fail_ratio(every):.6f} "
             f"({sum(not o['ok'] for o in every)}/{len(every)})",
             f"  peak_rss_mb {rec['peak_rss_mb']:.1f} MB"]
    if lat:
        name = "sync" if w == "sync" else "curation_query"
        v, why = fmt_tail(lat)
        lines.append(f"  {name}_p50_s {stats.median(lat):.4f} s; {name}_tail_s "
                     f"{v:.4f} s ({why})")
    if get_ms:
        v, why = fmt_tail(get_ms)
        lines.append(f"  api_get_p50_ms {stats.median(get_ms):.4f} ms; api_get_tail_ms "
                     f"{v:.4f} ms ({why})")
    if w == "curation":
        lines.append(f"  curation_pass_s {stats.median(stats.pass_times(ops)):.4f} s "
                     f"({phase['passes']} passes)")
        for q in rec["queries"]:
            xs = [o["latency_s"] for o in ops if o["name"] == q and o["ok"]]
            lines.append(f"  {q}_s {stats.median(xs):.4f} s (n={len(xs)})")
    late = stats.lateness_ms(gets)
    if late:
        v, why = fmt_tail(late)
        lines.append(f"  bench.generator_late_tail_ms {v:.4f} ms ({why})")
    bad = [o for o in every if not o["ok"]]
    lines.append("  correct: " + ("yes" if not bad and not rec["warmup_errors"] else "NO"))
    for o in bad[:10]:
        lines.append(f"    failed {o['kind']} {o['name']}: {o['error'][:200]}")
    for e in rec["warmup_errors"][:10]:
        lines.append(f"    warm-up error: {e[:200]}")
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["sync", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    e2e_units, layer_units = metric_names()
    cp, sources = build()
    started = time.time()       # the time limit covers the run, not the build
    tag = f"{args.workload}-{args.seed}-t{args.trace}-{int(started * 1000)}"
    work = os.path.join(WORK, "runs", tag)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    out = os.path.join(work, "record.json")
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
        "-cp", cp, "perfbench.Main", "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--data", DATA,
        "--warm-data", WARM_DATA, "--out", out]
    code = run_logged(cmd, ROOT, dict(os.environ), os.path.join(work, "jvm.log"),
                      max(10, RUN_LIMIT_S - (time.time() - started)))
    if code != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(os.path.join(work, "jvm.log")).readlines()[-40:]))
        fail(f"workload run failed (exit {code})")
    with open(out) as f:
        rec = json.load(f)
    data_key = data_digest(DATA)
    rec.update(commit=commit(), sources=sources, seed=args.seed, data=data_key)

    if rec.get("dumps"):
        v = oracle.verdicts(rec, DATA, os.path.join(WORK, "oracle"), data_key)
        for ph in rec["phases"]:
            ph["ops"] = stats.mark_wrong(ph["ops"], v)
    # keep the records, drop the run's scratch data
    for sub in ("tmp", "spark-local", "warehouse", "sync", "api", "dumps"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    phases = {ph["role"]: ph for ph in rec["phases"]}
    plain = phases["plain"]
    lines = report(rec, plain, args)
    every = [o for ph in rec["phases"] for o in ph["ops"] + ph["gets"]]
    if args.trace:
        traced = phases["traced"]
        lines += ["  traced phase:"] + ["  " + l for l in report(rec, traced, args)[4:]]
        warm = phases["warm"]
        lines += [f"  warm phase: failed {o['kind']} {o['name']}: {o['error'][:200]}"
                  for o in warm["ops"] + warm["gets"] if not o["ok"]][:10]
        base, with_trace = summarize(rec, plain)["pass_s"], summarize(rec, traced)["pass_s"]
        measured = dict(rec["layers"])
        measured.update((k, v) for k, v in summarize(rec, traced).items() if k in layer_units)
        measured["bench.generator_late_tail_ms"] = stats.tail(stats.lateness_ms(traced["gets"]))[0]
        measured["bench.trace_overhead_s"] = with_trace - base
        measured["bench.trace_overhead_ratio"] = with_trace / base - 1
        values = {k: float(measured.get(k, 0.0)) for k in layer_units}
        units = layer_units
        lines.append(f"  tracing overhead: pass_s {base:.4f} untraced (the phase after "
                     f"the traced one), {with_trace:.4f} traced")
        lines += [f"  {k} {v:.6g} {units.get(k, '')}" for k, v in sorted(measured.items())]
    else:
        values, units = summarize(rec, plain), e2e_units
    correct = all(o["ok"] for o in every) and not rec["warmup_errors"]
    if any(v != v for v in values.values()):      # NaN: nothing succeeded to time
        correct = False
        values = {k: (0.0 if v != v else v) for k, v in values.items()}
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump({"record": rec, "trace": args.trace, "metrics": values}, f)
    print("\n".join(lines))
    print(json.dumps({
        "correct": correct, "attempted": len(every),
        "failed": sum(not o["ok"] for o in every),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
