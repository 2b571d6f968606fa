#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its result.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and the
harness with sbt (perfbench/build.sbt) into the checkout; later runs reuse
the build while the sources are unchanged. Each run starts one JVM with
Spark local[nproc], which generates the seeded inputs, drives graft's public
entry points, times them and checks the outputs.

Stdout: one JSON line per measured metric ({"metric", "unit", "value"}),
then, as the last line, one JSON object with exactly the keys correct,
attempted, failed and metrics. With --trace 0 the metrics are the end_to_end
metrics of BENCHMARK.json, with --trace 1 its per_layer metrics (0 where the
workload does not exercise the layer).
The full record (checks, run context, named metrics) and, for traced runs,
the spans are written under the build directory's runs/ folder.

`--selftest` checks that records survive any message text and exits.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("stream_features", "serve_live", "backfill_training")
RECORD_PREFIX = "PERFBENCH_RECORD "
RUN_TIMEOUT_S = 170
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def source_digest():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src"),
            os.path.join(ROOT, "project"), os.path.join(BENCH_DIR, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH_DIR, "build.sbt")]
    for top in tops:
        for dp, dns, fns in os.walk(top):
            dns[:] = sorted(x for x in dns if x not in ("target", "project"))
            files += [os.path.join(dp, f) for f in fns
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Builds graft + the harness once per source digest; returns the classpath.

    sbt compiles into target/ folders it shares with other builds of the
    tree, so after a build the class folders are copied to a folder named
    by the digest and the cached classpath lists those copies: a cached
    digest always runs the classes built from its own sources."""
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    digest = source_digest()
    cp_file = os.path.join(bdir, f"perfbench-classpath-{digest}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    t0 = time.time()
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH_DIR, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [x.strip() for x in proc.stdout.splitlines() if x.strip()]
    cp = next((x for x in reversed(lines)
               if not x.startswith("[") and os.pathsep in x and ".jar" in x), None)
    if proc.returncode != 0 or cp is None:
        sys.stderr.write(proc.stdout[-6000:])
        fail(f"sbt build failed (exit {proc.returncode})", 3)
    classes = os.path.join(bdir, f"classes-{digest}")
    shutil.rmtree(classes, ignore_errors=True)
    entries = []
    for i, e in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(e):
            copy = os.path.join(classes, str(i))
            shutil.copytree(e, copy)
            e = copy
        entries.append(e)
    cp = os.pathsep.join(entries)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    tmp = cp_file + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(cp)
    os.replace(tmp, cp_file)
    return cp


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def duckdb_checks(out_dir):
    """The curation leg of a traced backfill_training run: graft's dedup
    survivors and cluster labels against the DuckDB oracle SQL on the same
    documents table."""
    path = os.path.join(out_dir, "curate_oracle.json")
    checks = []
    try:
        import duckdb
    except ImportError:
        return [("duckdb oracle available", False, "python duckdb module missing", 1, 1)]
    with open(path) as fh:
        o = json.load(fh)
    con = duckdb.connect()
    try:
        docs = os.path.join(o["documents"], "*.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
        want = [r[0] for r in con.execute(o["minhash_sql"]).fetchall()]
        got = o["survivors"]
        bad = len(set(want) ^ set(got))
        checks.append((f"minhash survivors equal DuckDB oracle ({len(want)} docs)",
                       want == got, f"{bad} ids differ", len(want), bad))
        want_l = [list(r) for r in con.execute(o["cluster_sql"]).fetchall()]
        got_l = o["labels"]
        bad_l = sum(1 for a, b in zip(want_l, got_l) if a != b) + abs(len(want_l) - len(got_l))
        checks.append((f"cluster labels equal DuckDB oracle ({len(want_l)} docs)",
                       want_l == got_l, f"{bad_l} labels differ", len(want_l), bad_l))
    finally:
        con.close()
    return checks


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat; (0, 0) where
    there is none. Steal is time the host gave this machine's CPUs to
    others, so a run with a high steal share ran on a slower machine."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return (f[7] if len(f) > 7 else 0), sum(f)
    except (OSError, ValueError):
        return 0, 0


def selftest():
    msg = 'line one\nsaid "no"\x01 end'
    rec = {"correct": False, "attempted": 1, "failed": 1,
           "metrics": {"x_ms": {"value": 1.5, "unit": "ms"}}, "error": msg}
    line = json.dumps(rec)
    assert "\n" not in line and "\x01" not in line, "raw control character in the line"
    assert json.loads(line)["error"] == msg, "message did not round-trip"
    print("perfbench selftest ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        selftest()
        return
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources next to perfbench/ (expected build.sbt and src/main/scala/graft)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    cp = classpath()
    run_dir = os.path.join(build_dir(), "runs", f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}")
    work, out = os.path.join(run_dir, "work"), os.path.join(run_dir, "out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out, "--commit", git_commit()])
    record, code = None, None
    t_start = time.time()
    ticks0 = cpu_ticks()
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    deadline = time.time() + RUN_TIMEOUT_S

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except OSError:
            pass

    signal.signal(signal.SIGTERM, lambda *x: (kill(), sys.exit(143)))
    timer = threading.Timer(max(1.0, deadline - time.time()), kill)
    timer.start()
    try:
        for line in proc.stdout:
            if line.startswith(RECORD_PREFIX):
                record = json.loads(line[len(RECORD_PREFIX):])
                print(f"perfbench: record after {time.time() - t_start:.1f}s", file=sys.stderr)
            else:
                sys.stdout.write(line)
        code = proc.wait()
    finally:
        timer.cancel()
        kill()
        proc.wait()
    print(f"perfbench: jvm exited with {code} after {time.time() - t_start:.1f}s", file=sys.stderr)
    ticks1 = cpu_ticks()
    if record is None:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"workload {a.workload} produced no record (exit {code})", 1)

    if os.path.isfile(os.path.join(out, "curate_oracle.json")):
        try:
            checks = duckdb_checks(out)
        except Exception as e:  # an oracle that cannot run is a failed check
            checks = [("duckdb oracle ran", False, repr(e), 1, 1)]
        for name, ok, detail, attempted, failed in checks:
            record["checks"].append({"name": name, "ok": ok, **({} if ok else {"detail": detail})})
            record["attempted"] += attempted
            record["failed"] += failed
            record["correct"] = record["correct"] and ok and failed == 0
    if ticks1[1] > ticks0[1]:
        record["context"]["cpu_steal_share"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: done after {time.time() - t_start:.1f}s", file=sys.stderr)
    with open(os.path.join(out, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for c in record["checks"]:
        if not c["ok"]:
            print(f"perfbench: check failed: {c['name']}: {c.get('detail', '')}", file=sys.stderr)

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    if not a.trace:
        missing = [m["name"] for m in names if m["name"] not in record["metrics"]]
        if missing:
            fail(f"workload {a.workload} did not report {' '.join(missing)}", 1)
    else:
        unreported = [m["name"] for m in names if m["name"] not in record["metrics"]]
        if unreported:
            print(f"perfbench: not exercised by {a.workload}: {' '.join(unreported)}",
                  file=sys.stderr)
    # every metric the run measured, one per line, then the contract line
    lines = dict(record["metrics"])
    lines.update(record["context"].get("named_metrics", {}))
    for n, m in lines.items():
        print(json.dumps({"metric": n, "unit": m["unit"], "value": m["value"]}))
    metrics = {m["name"]: {"value": record["metrics"].get(m["name"], {}).get("value", 0),
                           "unit": m["unit"]} for m in names}
    print(json.dumps({"correct": bool(record["correct"]) and code == 0,
                      "attempted": max(1, int(record["attempted"])),
                      "failed": int(record["failed"]), "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0)


if __name__ == "__main__":
    main()
