#!/usr/bin/env python3
"""Repository benchmark for the graft engine.

    python3 perfbench/run.py --workload search|gates --seed N \
        --seconds S --trace 0|1

Builds the engine and the harness from source on first use (sbt, offline;
outputs under .bench_build/), runs one workload in a fresh JVM with a local
Spark session of nproc cores, checks the engine's outputs, and prints as
its last stdout line one JSON object: correct, attempted, failed, metrics.
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones; the line before it holds the full record (host facts,
sample counts, percentiles). Records are also kept in .bench_out/.

Everything a run writes lives under one per-run directory in .bench_run/,
removed when the run ends. See perfbench/README.md for the workloads.

Extra modes, not used by a plain run:
  --record-gates-ref   rewrite perfbench/data/gates_ref.tsv from this run
  --mark-exact         run the traced run twice and record in
                       perfbench/exact_counts.json which per-layer counts
                       repeated exactly
"""

import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
INDEX = BUILD / "search-index"
CDS = BUILD / "classes.jsa"
RUNS = ROOT / ".bench_run"
OUT = ROOT / ".bench_out"
DATA = HERE / "data" / "sf0.001"
# A run must end within 180 s, the first one in a checkout (which builds)
# within 900 s.
RUN_TIMEOUT_S = 170
COMPILE_TIMEOUT_S = 480
PREPARE_TIMEOUT_S = 240
MIN_FREE_BYTES = 2 << 30
WORKLOADS = ("search", "gates")
TIME_UNITS = {"s", "ms"}

# Same module openings, heap and GC flags as the repository's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ROOT / "src" / "main" / "scala", HERE / "src"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build():
    """Compiles engine + harness and prepares the search workload's indexes,
    unless the sources are unchanged since the last build; returns the
    runtime classpath."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "build.log"
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            timeout=COMPILE_TIMEOUT_S)
    lines = log.read_text().strip().splitlines()
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed, see {log}")
    cp = jar_classpath(lines[-1].strip())
    shutil.rmtree(INDEX, ignore_errors=True)
    (INDEX / "tmp").mkdir(parents=True)
    CDS.unlink(missing_ok=True)
    # The preparing JVM also writes the class-data archive that later runs
    # map at start-up (a dynamic AppCDS archive of the classes it loaded).
    with open(BUILD / "prepare.log", "w") as fh:
        code = subprocess.run(java_cmd(cp, INDEX / "tmp", f"-XX:ArchiveClassesAtExit={CDS}")
                              + ["--prepare", str(INDEX)],
                              cwd=BUILD, stdout=fh, stderr=subprocess.STDOUT,
                              timeout=PREPARE_TIMEOUT_S).returncode
    if code != 0:
        fail(f"preparing the search indexes failed, see {BUILD / 'prepare.log'}")
    shutil.rmtree(INDEX / "tmp", ignore_errors=True)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def gate_layers(path):
    """gate -> engine packages its spec calls, read from the driver source.

    A spec calls a package when its body names an object imported from
    that package, writes `graft.<pkg>.` itself, or calls a helper defined
    in the driver that does (followed transitively). Memoized derivations
    (helpers wrapped in DriverQueries' `cached(...)`) are not followed: they
    are computed in set-up, and a gate only reads their cached result."""
    src = (ROOT / "src/main/scala/graft/driver/DriverQueries.scala").read_text()
    alias = {}
    for pkg, names in re.findall(r"^import graft\.(\w+)\.(\{[^}]*\}|\w+)", src, re.M):
        for n in names.strip("{}").split(","):
            alias[n.strip()] = pkg

    def direct(body):
        found = set(re.findall(r"\bgraft\.(\w+)\.", body))
        found |= {p for n, p in alias.items() if re.search(rf"\b{n}\b", body)}
        return found

    # top-level members of the object: name -> body
    members = {}
    marks = list(re.finditer(r"^  (?:private |lazy |final )*(?:def|val) (\w+)", src, re.M))
    for i, m in enumerate(marks):
        end = marks[i + 1].start() if i + 1 < len(marks) else len(src)
        members.setdefault(m.group(1), src[m.start():end])
    members = {n: b for n, b in members.items()
               if "cached(" not in b and not n.startswith("specs")}
    closure = {}

    def reach(name, seen):
        if name in closure:
            return closure[name]
        seen = seen | {name}
        body = members[name]
        pkgs = direct(body)
        for other in members:
            if other not in seen and re.search(rf"\b{other}\s*[\(\[]", body):
                pkgs |= reach(other, seen)
        return pkgs

    for name in members:
        closure[name] = reach(name, set())
    specs = list(re.finditer(r'Spec\(\s*"(\w+)"', src))
    lines = []
    for i, m in enumerate(specs):
        end = specs[i + 1].start() if i + 1 < len(specs) else len(src)
        body = src[m.end():end]
        body = re.split(r"\n  \S", body)[0]  # stop at the end of the spec list
        body = re.split(r"Some\(s?\"\"\"", body)[0]  # drop the oracle SQL
        pkgs = direct(body)
        for other in members:
            if re.search(rf"\b{other}\b", body):
                pkgs |= closure[other]
        lines.append(f"{m.group(1)}\t{','.join(sorted(pkgs))}")
    path.write_text("\n".join(lines) + "\n")


def jar_classpath(cp):
    """Replaces the compiled-classes directory in `cp` by a jar of it: a
    class-data archive can only cover classes loaded from jars."""
    entries = cp.split(os.pathsep)
    classes = Path(entries[0])
    if not classes.is_dir():
        fail(f"unexpected first classpath entry {classes}")
    jar = BUILD / "harness.jar"
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    return os.pathsep.join([str(jar)] + entries[1:])


def java_cmd(cp, tmp, cds=None):
    """The run's JVM. `cds` names the archive option; by default the
    build's archive is mapped when it exists (start-up only, the JVM
    falls back to loading classes itself if it cannot use it)."""
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    if cds is None and CDS.exists():
        cds = f"-XX:SharedArchiveFile={CDS}"
    cmd = ["java"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + [f"-Xmx{heap}", "-XX:+UseParallelGC", "-XX:NewRatio=1"] + ([cds] if cds else []) + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"]


def run_jvm(cp, args, run_dir, log_path):
    result = run_dir / "result.json"
    cmd = java_cmd(cp, run_dir / "tmp") + ["--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", str(run_dir), "--out", str(result), "--data", str(DATA), "--index", str(INDEX),
            "--gate-layers", str(run_dir / "gate_layers.tsv")]
    with open(log_path, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S}s, see {log_path}")
        finally:  # on every way out, the JVM and anything it started end first
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not result.exists():
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        fail(f"JVM exited with {code}, see {log_path}")
    return json.loads(result.read_text())


def one_run(args, spec, cp):
    RUNS.mkdir(exist_ok=True)
    OUT.mkdir(exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = RUNS / f"{name}-{os.getpid()}"
    try:
        shutil.rmtree(run_dir, ignore_errors=True)
        (run_dir / "tmp").mkdir(parents=True)
        gate_layers(run_dir / "gate_layers.tsv")
        record = run_jvm(cp, args, run_dir, OUT / f"{name}.log")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    (OUT / f"{name}.json").write_text(json.dumps(record, indent=1, sort_keys=True))
    return record


def report(args, spec, record):
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = record["layers"] if args.trace else record["e2e"]
    metrics, not_exercised = {}, []
    for m in wanted:
        if m["name"] in values:
            v = values[m["name"]]
        elif args.trace:
            v = 0.0  # a layer metric this workload does not exercise
            not_exercised.append(m["name"])
        else:
            fail(f"end-to-end metric {m['name']} missing from the record")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    details = {k: v for k, v in record.items() if k not in ("spans", "layers", "e2e")}
    if args.trace:
        details["not_exercised"] = not_exercised
        untraced = [json.loads(p.read_text())["e2e"]["items_per_s"]
                    for p in OUT.glob(f"{args.workload}-seed*-trace0.json")]
        if untraced:
            details["trace_overhead_vs_untraced"] = (
                1 - record["e2e"]["items_per_s"] / statistics.median(untraced))
    print(json.dumps(details, sort_keys=True))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": int(record["attempted"]),
        "failed": int(record["failed"]),
        "metrics": metrics,
    }))


def record_gates_ref(record):
    if record["workload"] != "gates":
        fail("--record-gates-ref needs --workload gates")
    path = HERE / "data" / "gates_ref.tsv"
    # gates this run did not execute keep their recorded reference
    ref = dict(line.split("\t", 1) for line in path.read_text().splitlines()
               if line and not line.startswith("#")) if path.exists() else {}
    ref.update(record["details"]["observed"])
    lines = ["# gate\trows\torder-insensitive row hash (perfbench Util.rowsHash)"]
    lines += [f"{g}\t{ref[g]}" for g in sorted(ref)]
    path.write_text("\n".join(lines) + "\n")


def mark_exact(args, spec, cp):
    args.trace = 1
    first, second = one_run(args, spec, cp), one_run(args, spec, cp)
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    path = HERE / "exact_counts.json"
    marks = json.loads(path.read_text()) if path.exists() else {}
    marks[args.workload] = {
        name: {"exact": first["layers"][name] == second["layers"][name],
               "values": [first["layers"][name], second["layers"][name]]}
        for name in sorted(first["layers"])
        if units.get(name) not in TIME_UNITS and name in units}
    path.write_text(json.dumps(marks, indent=1, sort_keys=True) + "\n")
    print(json.dumps({w: sorted(n for n, v in m.items() if v["exact"])
                      for w, m in marks.items()}))


def main():
    # SIGTERM unwinds like an error, so the JVM is stopped and the run
    # directory removed before the process exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-gates-ref", action="store_true")
    ap.add_argument("--mark-exact", action="store_true")
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        fail("BENCHMARK.json not found at the checkout root")
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("engine sources (src/main/scala/graft) not found; run from a full checkout")
    if not DATA.is_dir():
        fail(f"benchmark data {DATA} not found")
    free = shutil.disk_usage(ROOT).free
    if free < MIN_FREE_BYTES:
        fail(f"only {free >> 20} MiB free under {ROOT}; need {MIN_FREE_BYTES >> 20} MiB")
    spec = json.loads(spec_path.read_text())
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        cp = build()
    if args.mark_exact:
        mark_exact(args, spec, cp)
        return
    record = one_run(args, spec, cp)
    if args.record_gates_ref:
        record_gates_ref(record)
    report(args, spec, record)


if __name__ == "__main__":
    main()
