#!/usr/bin/env python3
"""graft's benchmark entry point.

    python3 perfbench/run.py --workload full_suite --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selfcheck
    python3 perfbench/run.py --overhead 3 --seed 1

Run from the root of a checkout. The first call builds the program and the
harness from source with sbt (perfbench/build.sbt compiles src/main/scala
together with perfbench/src) into .bench_build/ and the sbt target
directories; later calls reuse that build while the sources are unchanged.
Each run is one JVM at local[nproc] driven by graftbench.Main; this script
forwards its record line and prints the result line last. --overhead N
makes N same-seed traced/untraced pairs per workload, in alternating order,
and prints the tracing overhead (trace.run_s - run_s) per workload.
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
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 720

# The forked-run JVM regime of the program's own build (build.sbt), except
# spark.local.dir: the benchmark keeps all its files inside the checkout.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not jars.is_dir():
        fail("no Spark runtime found (set SPARK_HOME or put spark-submit on PATH)")
    return jars


def source_stamp():
    h = hashlib.sha256()
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout} s and was stopped", 1)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build(jars):
    """Compile program + harness once per source state; return the classpath
    and a short id of that source state."""
    stamp_file = BUILD / "build.json"
    stamp = source_stamp()
    if stamp_file.exists():
        saved = json.loads(stamp_file.read_text())
        cp = saved.get("classpath", "")
        if saved.get("stamp") == stamp and cp and all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp, stamp[:12]
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt is not on PATH")
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, GRAFT_BENCH_SPARK_JARS=str(jars))
    env.setdefault("COURSIER_MODE", "offline")
    # every JVM the sbt script starts: no hsperfdata files outside the checkout
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={BUILD / 'tmp'}",
           "compile", "export Runtime/fullClasspath"]
    (BUILD / "tmp").mkdir(exist_ok=True)
    t0 = time.time()
    log("building program and harness with sbt (first run in this checkout)")
    with open(BUILD / "build.log", "w") as logf:
        code, out = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                                stdout=subprocess.PIPE, stderr=logf, text=True)
    (BUILD / "build.out").write_text(out or "")
    if code != 0:
        tail = "\n".join((out or "").splitlines()[-25:])
        fail(f"build failed (exit {code}):\n{tail}", 1)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines) if os.pathsep in l or l.endswith(".jar")), None)
    if not cp or "perfbench" not in cp:
        fail("could not read the runtime classpath from sbt", 1)
    stamp_file.write_text(json.dumps({"stamp": stamp, "classpath": cp}))
    log(f"build done in {time.time() - t0:.1f} s")
    return cp, stamp[:12]


def java_cmd(cp, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else shutil.which("java")
    if not java or not os.path.exists(java):
        fail("no java found (set JAVA_HOME or put java on PATH)")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=2g", "-XX:+UseParallelGC",
            "-Dspark.sql.codegen.cache.maxEntries=8192",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={BUILD / 'tmp'}", *opens,
            "-cp", cp, "graftbench.Main", *args]


def harness(build_id, cp, args, tag):
    """One JVM run; returns (exit code, record, result), the last two parsed
    from its last two JSON lines."""
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    logpath = BUILD / "logs" / f"{tag}-{int(time.time() * 1000)}.log"
    with open(logpath, "w") as logf:
        code, out = run_bounded(java_cmd(cp, [*args, "--work", str(BUILD / "work"),
                                              "--build", build_id]),
                                RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=logf, text=True)
    lines = [l for l in (out or "").splitlines() if l.startswith("{")]
    if len(lines) < 2:
        tail = "\n".join(logpath.read_text().splitlines()[-30:])
        fail(f"harness printed no result (exit {code}); log {logpath}:\n{tail}", 1)
    return code, json.loads(lines[-2]), json.loads(lines[-1])


def expected_names(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def check_names(result, trace):
    want = expected_names(trace)
    got = result.get("metrics", {})
    missing = [n for n in want if n not in got]
    extra = [n for n in got if n not in want]
    bad = [n for n in want if n in got and not isinstance(got[n].get("value"), (int, float))]
    return missing, extra, bad


def selfcheck(build_id, cp, cpus):
    ok = True
    code, record, result = harness(build_id, cp, ["--selfcheck", "--workload", "full_suite",
                                        "--pages", "12000", "--cpus", str(cpus)], "selfcheck")
    print(json.dumps(record))
    for case in record["record"]["cases"]:
        good = case["expect_accept"] == (case["rejected_because"] is None)
        ok &= good
        log(f"gate {case['case']}: {'accepted' if case['rejected_because'] is None else 'rejected: ' + case['rejected_because']}"
            f" -> {'as expected' if good else 'WRONG'}")
    ok &= code == 0
    log(f"known defect, month units: {record['record']['known_defect_month_unit']}")
    for w in ("full_suite", "incremental"):
        code, record, result = harness(build_id, cp, ["--workload", w, "--seed", "7", "--seconds", "1",
                                            "--trace", "1", "--pages", "12000",
                                            "--cpus", str(cpus)], f"selfcheck-{w}")
        missing, extra, bad = check_names(result, True)
        good = code == 0 and result["correct"] and not missing and not extra and not bad
        ok &= good
        log(f"traced {w}: {len(result['metrics'])} per-layer metrics, missing={missing} "
            f"extra={extra} non-numeric={bad} correct={result['correct']} -> {'ok' if good else 'WRONG'}")
        log(f"traced {w}: not exercised here: {record['record'].get('not_exercised')}")
    print(json.dumps({"selfcheck": "pass" if ok else "fail"}))
    return 0 if ok else 1


def overhead(build_id, cp, cpus, pairs, seed, seconds):
    """Same-seed traced/untraced pairs, order alternating between pairs so
    that host drift falls on both sides; prints trace.run_s - run_s."""
    ok = True
    for w in ("full_suite", "incremental"):
        diffs = []
        for i in range(pairs):
            s = seed + i
            figures = {}
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                code, record, result = harness(build_id, cp, [
                    "--workload", w, "--seed", str(s), "--seconds", str(seconds),
                    "--trace", str(trace), "--cpus", str(cpus)], f"overhead-{w}-{s}-t{trace}")
                ok &= code == 0 and result["correct"]
                figures[trace] = result["metrics"]["trace.run_s" if trace else "run_s"]["value"]
            diffs.append(figures[1] - figures[0])
            log(f"overhead {w} seed {s}: traced {figures[1]:.3f} s, untraced {figures[0]:.3f} s")
        med = statistics.median(diffs)
        q = statistics.quantiles(diffs, n=4) if len(diffs) > 1 else [med, med, med]
        print(json.dumps({"workload": w, "pairs": pairs, "overhead_s_median": med,
                          "overhead_s_q1": q[0], "overhead_s_q3": q[2], "overhead_s": diffs}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="full_suite",
                    choices=["full_suite", "incremental"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--overhead", type=int, metavar="PAIRS", default=0)
    a = ap.parse_args()

    if not (PROGRAM_SRC / "graft").is_dir():
        fail(f"graft's sources ({PROGRAM_SRC.relative_to(ROOT)}/graft) are not in this checkout")
    if not (ROOT / "BENCHMARK.json").is_file():
        fail("BENCHMARK.json is missing")
    os.chdir(ROOT)
    cpus = len(os.sched_getaffinity(0))
    cp, build_id = build(spark_jars())
    if a.selfcheck:
        sys.exit(selfcheck(build_id, cp, cpus))
    if a.overhead:
        sys.exit(overhead(build_id, cp, cpus, a.overhead, a.seed, a.seconds))

    code, record, result = harness(build_id, cp, ["--workload", a.workload, "--seed", str(a.seed),
                                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                                        "--cpus", str(cpus)], f"{a.workload}-{a.seed}-t{a.trace}")
    if code != 0:
        fail(f"harness exited {code}", 1)
    missing, extra, bad = check_names(result, a.trace == 1)
    if missing or extra:
        fail(f"metric names differ from BENCHMARK.json: missing {missing}, extra {extra}", 1)
    if bad:
        result["correct"] = False
        log(f"metrics without a measured value: {bad}")
    print(json.dumps(record))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
