#!/usr/bin/env python3
"""Layered benchmark of the candle pipeline.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine
(src/main/scala) together with the harness (perfbench/scala) into
.bench_build/build; later runs reuse it while the sources are unchanged.
Each run makes its inputs from the seed, runs one JVM, checks the
outputs, and prints as its last stdout line one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import metrics
import tape

BENCH = Path(__file__).resolve().parent
WORKLOADS = ("candles_batch", "candles_live")
SETUPS = 3
BATCH_EVENTS = 6000
JVM_TIMEOUT_S = 165
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    try:
        import pyspark
    except ImportError:
        fail("no Spark jars: set SPARK_HOME")
    return Path(pyspark.__file__).parent / "jars"


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def build(root, jars):
    """Compile engine + harness once per source digest into one jar;
    return the run's class path."""
    sources = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not sources:
        fail("no engine sources under src/main/scala: run from the repository root")
    sources += sorted((BENCH / "scala").rglob("*.scala"))
    digest = hashlib.sha256()
    for s in sources:
        digest.update(str(s.relative_to(root)).encode() + b"\0" + s.read_bytes())
    digest.update(" ".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    out = root / ".bench_build" / "build"
    stamp = out / ".stamp"
    # one entry per jar, in a fixed order: the class-data archives
    # (run_jvm) are valid only for the class path they were made with
    class_path = os.pathsep.join(
        [str(out / "perfbench.jar")] + sorted(str(j) for j in jars.glob("*.jar")))
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return class_path
    shutil.rmtree(out, ignore_errors=True)
    classes = out / "classes"
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in sources))
    cp = str(jars / "*")
    started = time.time()
    res = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", str(classes), "-classpath", cp, f"@{argfile}"],
        stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if res.returncode != 0:
        fail("compilation failed")
    shutil.make_archive(str(out / "perfbench"), "zip", classes)
    (out / "perfbench.zip").rename(out / "perfbench.jar")
    stamp.write_text(digest.hexdigest())
    print(f"perfbench: compiled {len(sources)} files in {time.time() - started:.0f} s",
          file=sys.stderr)
    return class_path


def make_inputs(workload, seed, seconds, data):
    if workload == "candles_batch":
        tape.write_events(data, seed, BATCH_EVENTS)
    else:
        tape.write_tape(data, seed, chunks=int(seconds * 1000 / tape.CHUNK_PERIOD_MS))


def run_jvm(root, class_path, args, work):
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    (work / "tmp").mkdir()
    out = work / "raw.json"
    # The first run of a workload saves the classes it loaded to an archive
    # that later runs map instead of loading them from the jars.
    cds = root / ".bench_build" / "build" / f"classes-{args.workload}.jsa"
    cds_flag = f"-XX:SharedArchiveFile={cds}" if cds.exists() else f"-XX:ArchiveClassesAtExit={cds}"
    cmd = [java(), cds_flag, *[f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS],
           "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
           "-Duser.timezone=UTC", f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-cp", class_path, "graft.perfbench.Harness",
           "--workload", args.workload, "--data", str(work / "data"), "--work", str(work),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--setups", str(SETUPS), "--cores", str(cores), "--out", str(out)]
    res = subprocess.run(cmd, cwd=root, stdout=sys.stderr, stderr=sys.stderr,
                         timeout=JVM_TIMEOUT_S)
    if res.returncode != 0:
        fail(f"harness exited with {res.returncode}")
    return json.loads(out.read_text())


def oracle_check(root, raw, data):
    """Every batch query's output against its DuckDB oracle, through the
    repository's own comparison (tools/check.py)."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location("check", root / "tools" / "check.py")
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{data / 'events.parquet'}')")
    errors = {}
    for name in raw["queries"]:
        sql = raw["oracle_sql"].get(name)
        path = Path(raw["check_dir"]) / name
        if sql is None:
            errors[name] = "no oracle"
        elif not path.exists():
            errors[name] = "no output"
        else:
            err = check.compare(name, pd.read_parquet(path), con.execute(sql).df())
            if err:
                errors[name] = err
    return errors


def stream_check(raw, data):
    man = json.loads((data / "manifest.json").read_text())
    want = (len(man["late_lines"]), man["malformed_json"] + man["bad_decimal"])
    counts = metrics.stream_counts(raw)
    errors = {}
    for c in raw["checks"]:
        p = c["pass"]
        if c["missing"] or c["extra"] or not c["rows"]:
            errors[f"p{p}.candles"] = (f"{c['rows']} rows landed, {c['expected_rows']} expected: "
                                       f"{c['missing']} missing, {c['extra']} extra")
        if counts.get(p) != want:
            errors[f"p{p}.counts"] = f"(dropped late, malformed) = {counts.get(p)}, injected {want}"
    if len(raw["checks"]) != len(metrics.timed(raw["passes"])):
        errors["checks"] = "a timed pass was not checked"
    return errors


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM unwind through subprocess.run, which kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd()
    if not (root / "tools" / "check.py").exists():
        fail("tools/check.py not found: run from the repository root")
    jars = spark_jars()
    class_path = build(root, jars)
    work = root / ".bench_build" / f"run-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    data.mkdir(parents=True)
    try:
        make_inputs(args.workload, args.seed, args.seconds, data)
        started = time.time()
        raw = run_jvm(root, class_path, args, work)
        jvm_s = time.time() - started
        errors = stream_check(raw, data) if metrics.is_stream(raw) else oracle_check(root, raw, data)
        check_s = time.time() - started - jvm_s
        info = {"workload": args.workload, "seed": args.seed,
                "cold_start_s": raw["cold_start_s"], "setups_s": raw["setup_s"],
                "jvm_s": jvm_s, "check_s": check_s, "failures": raw["failures"],
                "check_errors": errors}
        values, units = {}, {}
        try:  # a failed operation can leave a pass without figures
            info.update(metrics.summary(raw), end_to_end=metrics.end_to_end(raw))
            if args.trace:
                traces = root / ".bench_build" / "traces"
                traces.mkdir(exist_ok=True)
                (traces / f"{args.workload}-seed{args.seed}.json").write_text(
                    json.dumps(metrics.spans(raw)))
                values, units = metrics.per_layer(raw), metrics.LAYER
            else:
                values, units = info["end_to_end"], metrics.E2E
        except (KeyError, ValueError) as e:
            errors["metrics"] = f"{type(e).__name__}: {e}"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    correct = not errors and not raw["failures"]
    print(json.dumps({
        "correct": correct, "attempted": raw["attempted"], "failed": len(raw["failures"]),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
