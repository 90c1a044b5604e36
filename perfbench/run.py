#!/usr/bin/env python3
"""Repository benchmark: one seeded workload, one JVM, one result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 8 \
        --trace 0

Builds the library and the harness with sbt on first use (the classpath is
cached in .bench_build/ and rebuilt when a source changes), generates the
inputs from the seed, starts one JVM directly on the compiled classpath,
checks the outputs, and prints one JSON object as the last line of
standard output. --trace 1 runs the same workload with Spark listeners
and spans on and reports the per-layer metrics instead; its span file
lands in .bench_out/. See perfbench/README.md.
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

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
OUT = ROOT / ".bench_out"
SCALE = 0.01          # input scale factor (lineitem ~60k rows)
RUN_LIMIT_S = 170     # a run ends within this wall, build excluded
BUILD_LIMIT_S = 700   # first run: build + run stays within 900 s
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def source_stamp():
    h = hashlib.sha256()
    files = sorted(p for d in (ROOT / "src" / "main", HERE / "src")
                   for p in d.rglob("*") if p.is_file())
    files += [ROOT / "build.sbt", HERE / "build.sbt",
              HERE / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """The harness's runtime classpath, building it with sbt if stale."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "classpath.stamp"
    if (cp_file.exists() and stamp_file.exists()
            and stamp_file.read_text() == stamp):
        cp = cp_file.read_text().strip()
        # the compiled classes can be cleaned away behind the cache
        if Path(cp.split(":")[0], "perfbench", "Main.class").exists():
            return cp
    BUILD.mkdir(exist_ok=True)
    tmp = BUILD / "tmp"
    tmp.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "sbt.log"
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       BUILD_LIMIT_S, cwd=HERE, env=env, stdout=out,
                       stderr=subprocess.STDOUT)
    lines = log.read_text().splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and ":" in ln]
    if rc != 0 or not cp:
        tail = [ln for ln in lines if not ln.startswith("/")][-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"sbt build failed (exit {rc}); log in {log}")
    cp_file.write_text(cp[-1])
    stamp_file.write_text(stamp)
    return cp[-1]


def load_compare():
    """tools/compare.py's DuckDB normalization, shared with the oracle."""
    spec = importlib.util.spec_from_file_location(
        "graft_compare", ROOT / "tools" / "compare.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_errors(data_dir, entries):
    """Compares each Spark result with its DuckDB oracle SQL."""
    if not entries:
        return []
    import duckdb
    cmp = load_compare()
    con = duckdb.connect()
    for t in data_dir.glob("*.parquet"):
        con.execute(f"CREATE VIEW {t.stem} AS "
                    f"SELECT * FROM read_parquet('{t}')")
    errors = []
    for e in entries:
        try:
            scols, srows = cmp.frame(
                con, f"SELECT * FROM read_parquet('{e['path']}/*.parquet')")
            ocols, orows = cmp.frame(con, e["sql"])
        except Exception as ex:  # an oracle that cannot run is a failure
            errors.append(f"{e['name']}: {ex}")
            continue
        if scols != ocols or sorted(srows) != sorted(orows):
            errors.append(f"{e['name']}: {len(srows)} rows differ from "
                          f"the oracle's {len(orows)}")
    con.close()
    return errors


def main():
    # a terminated benchmark stops its JVM or sbt too (run_group kills the
    # process group when the wait is interrupted)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not ((ROOT / "build.sbt").exists() and (ROOT / "src" / "main").is_dir()
            and (ROOT / "BENCHMARK.json").exists()):
        fail("run from the repository root (build.sbt, src/main and "
             "BENCHMARK.json must be there)")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    cp = classpath()

    setup_t0 = time.time()
    run_dir = ROOT / ".bench_run" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        return measure(a, spec, cp, setup_t0, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(a, spec, cp, setup_t0, run_dir):
    sys.path.insert(0, str(HERE))
    import datagen
    data, work, tmp = run_dir / "data", run_dir / "work", run_dir / "tmp"
    for d in (work, tmp):
        d.mkdir(parents=True)
    sizes = datagen.write(data, a.seed, SCALE)
    result_file = run_dir / "result.json"
    spans_file = OUT / f"trace-{a.workload}-seed{a.seed}.json"
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
            f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            f"-Dderby.system.home={tmp}",
            f"-Dderby.stream.error.file={tmp / 'derby.log'}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", str(data), "--work", str(work),
            "--out", str(result_file), "--spans", str(spans_file)])
    log = run_dir / "jvm.log"
    with open(log, "w") as out:
        rc = run_group(cmd, RUN_LIMIT_S - (time.time() - setup_t0), cwd=tmp,
                       stdout=out, stderr=subprocess.STDOUT)
    if rc != 0 or not result_file.exists():
        sys.stderr.write("".join(log.read_text().splitlines(True)[-40:]))
        fail(f"benchmark JVM failed (exit {rc})")
    res = json.loads(result_file.read_text())

    t_oracle = time.time()
    errors = res["errors"] + oracle_errors(data, res["oracle"])
    print(f"perfbench: jvm ended {t_oracle - setup_t0:.1f}s after set-up "
          f"start; oracle took {time.time() - t_oracle:.1f}s",
          file=sys.stderr)
    attempted = res["attempted"] + len(res["oracle"])
    failed = res["failed"] + len(errors) - len(res["errors"])
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)

    if a.trace:
        values = res["per_layer"]
        wanted = spec["per_layer"]
    else:
        values = dict(res["end_to_end"],
                      setup_s=res["first_op_epoch_ms"] / 1000.0 - setup_t0)
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    line = json.dumps({"correct": failed == 0 and res["ops"] > 0,
                       "attempted": max(1, attempted), "failed": failed,
                       "metrics": metrics})
    record = dict(json.loads(line), workload=a.workload, seed=a.seed,
                  trace=a.trace, ops=res["ops"], sizes=res["sizes"],
                  inputs={k: {"rows": r, "bytes": b}
                          for k, (r, b) in sizes.items()})
    (OUT / "runs").mkdir(parents=True, exist_ok=True)
    (OUT / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
     ).write_text(json.dumps(record) + "\n")
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
