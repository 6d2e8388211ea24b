#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark code in perfbench/src with sbt (offline); later runs reuse the build while
the sources are unchanged. The last line of stdout is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer ones with --trace 1. Lines
before it itemise every failed operation or check and give the figures that
are not gated metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
SUITE_DATA = os.path.join(BENCH, "data", "sf0.01")
EXPECTED = os.path.join(BENCH, "expected.json")
# a run must end within 180 s of its build; the checks after the JVM take a
# few seconds
JVM_DEADLINE_S = 170

# attribution_daily input: half the sf0.1 event density (50k events, 750 users)
EVENTS = 50_000
USERS = 750
# set-up backfills to FIRST_DAY - 1; each cadence then runs FIRST_DAY..LAST_DAY
# on a copy of that state: one untimed warm-up cadence, then at least
# MIN_CADENCES timed ones, and each day's latency is its median over them
FIRST_DAY = 29
LAST_DAY = 30
MIN_CADENCES = 2

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_files():
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(base):
            for f in fs:
                if f.endswith(".scala"):
                    yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        yield os.path.join(ROOT, f)
        yield os.path.join(BENCH, f)


def build():
    """Compile with sbt unless the sources match the last build and its
    output is still there; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in sorted(source_files()):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s["sources"] == h.hexdigest() and all(map(os.path.exists, s["classpath"].split(os.pathsep))):
            return s["classpath"]
    log("[bench] building with sbt")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Compile/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:] + p.stderr[-2000:])
        raise SystemExit("[bench] build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"sources": h.hexdigest(), "classpath": lines[-1].strip()}, fh)
    return lines[-1].strip()


def java(cp, work, args, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Dspark.callstack.depth=64",
            "-cp", cp, "graftbench.GraftBench"] + [str(a) for a in args]
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=err, stderr=err)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("[bench] the run did not finish in time")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            log(fh.read()[-4000:])
        raise SystemExit(f"[bench] JVM exited with {rc}")


def events_input(seed):
    """The generated events file for `seed`, cached per seed and per version
    of gen_events.py."""
    import gen_events
    with open(gen_events.__file__, "rb") as fh:
        gen = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "inputs", f"events_{EVENTS}_{USERS}_s{seed}_{gen}")
    if not os.path.exists(os.path.join(d, "events.parquet")):
        os.makedirs(d, exist_ok=True)
        t0 = time.monotonic()
        gen_events.generate(os.path.join(d, "events.parquet.tmp"), seed, EVENTS, USERS)
        os.replace(os.path.join(d, "events.parquet.tmp"), os.path.join(d, "events.parquet"))
        log(f"[bench] generated {EVENTS} events for seed {seed} in {time.monotonic() - t0:.2f}s (not in setup_s)")
    return d


def suite_keys(expected, workload):
    """The keys a suite run times: the suite's sample, marked `timed` in
    expected.json by make_expected.py (see README)."""
    return sorted(k for k, v in expected["keys"].items()
                  if v["suite"] == workload and v["timed"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("[bench] no graft sources next to perfbench/: run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(EXPECTED) as fh:
        expected = json.load(fh)
    # olap_suite is not in BENCHMARK.json (see README) but runs by hand
    if a.workload not in {w["name"] for w in spec["workloads"]} | set(expected["counts"]):
        raise SystemExit(f"[bench] unknown workload {a.workload}")

    cp = build()
    deadline = time.monotonic() + JVM_DEADLINE_S
    work = os.path.join(BUILD, "work", f"{a.workload}_s{a.seed}_t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record_path = os.path.join(work, "record.json")
    cpus = len(os.sched_getaffinity(0))
    common = ["--seed", a.seed, "--seconds", a.seconds, "--trace", a.trace, "--cpus", cpus,
              "--work", work, "--out", record_path]
    failures = []
    checks = 0
    sys.path.insert(0, BENCH)
    if a.workload == "attribution_daily":
        ev = events_input(a.seed)
        java(cp, work, ["--mode", "daily", "--events", ev, "--first_day", FIRST_DAY,
                        "--last_day", LAST_DAY, "--min_cadences", MIN_CADENCES] + common, deadline)
    else:
        keys = suite_keys(expected, a.workload)
        java(cp, work, ["--mode", "suite", "--data", SUITE_DATA, "--keys", ",".join(keys)] + common,
             deadline)
    with open(record_path) as fh:
        rec = json.load(fh)

    if a.workload != "attribution_daily":
        import pandas as pd
        from fingerprint import fingerprint
        unlisted = sorted(set(rec["info"]["all_keys"]) - set(expected["keys"]))
        for k in unlisted:
            failures.append(("split", k, "key missing from expected.json: re-run perfbench/make_expected.py"))
        checks += len(unlisted)
        for k in keys:
            out = os.path.join(work, "results", k)
            if not os.path.isdir(out):
                continue  # the warm-up failure is already an itemised op
            checks += 2
            fp, n = fingerprint(pd.read_parquet(out))
            want = expected["keys"][k]
            if fp != want["fingerprint"]:
                failures.append(("fingerprint", k, f"rows={n} expected rows={want['rows']}"))
            if n < want["min_rows"]:
                failures.append(("min_rows", k, f"rows={n} < floor {want['min_rows']}"))
        # every timed count must equal the oracle's row count
        for o in rec["ops"]:
            if o["kind"] == "query" and o["ok"] and o["items"] != expected["keys"][o["name"]]["rows"]:
                o["ok"] = False
                o["note"] = f"count {o['items']} != oracle rows {expected['keys'][o['name']]['rows']}"

    ops = rec["ops"]
    for o in ops:
        if not o["ok"]:
            failures.append((o["kind"], o["name"], o["note"]))
    attempted = len(ops) + checks
    failed = len(failures)
    for kind, name, note in failures:
        print(f"FAIL {kind} {name}: {note}")

    primary = "daily" if a.workload == "attribution_daily" else "query"
    walls = [o for o in ops if o["kind"] == primary and o["ok"] and not o["traced"]]
    per_name = {}
    for o in walls:
        per_name.setdefault(o["name"], []).append(o["wall_s"])
    info = dict(rec["info"])
    info["fail_frac"] = failed / attempted
    # each day (or key) counts once, as the median of its repetitions
    medians = [statistics.median(v) for v in per_name.values()]
    if a.trace == 0:
        if not medians:
            raise SystemExit("[bench] no successful timed operation")
        values = {
            "setup_s": rec["setup_s"],
            "op_p50_s": statistics.median(medians),
            "op_tail_s": max(medians),
            "pass_s": sum(medians),
            "peak_rss_mb": rec["peak_rss_mb"],
        }
        info["op_samples"] = len(walls)
        if a.workload == "attribution_daily":
            reads = [o["wall_s"] for o in ops if o["kind"] == "read" and o["ok"]]
            runs = [o for o in ops if o["kind"] in ("daily", "noop", "compact") and o["ok"]]
            info["read_p50_s"] = statistics.median(reads) if reads else None
            info["daily_conv_per_s"] = sum(o["items"] for o in runs) / sum(o["wall_s"] for o in runs)
        metrics = spec["end_to_end"]
    else:
        values = rec["layers"]
        metrics = spec["per_layer"]
    info["op_medians_s"] = {k: round(m, 4) for k, m in zip(per_name, medians)}
    for k, v in info.items():
        if k != "all_keys":
            print(f"INFO {k} = {v}")
    out = {}
    for m in metrics:
        if m["name"] not in values:
            raise SystemExit(f"[bench] metric {m['name']} was not measured")
        out[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    if a.trace == 1:
        shutil.copy(os.path.join(work, "trace.jsonl"),
                    os.path.join(BUILD, f"trace_{a.workload}_s{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
