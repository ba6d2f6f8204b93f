#!/usr/bin/env python3
"""The repository benchmark: one command runs one workload and prints its
metrics.

    python3 benchmark/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the engine and
the harness (benchmark/build.sbt) with sbt and caches the classpath in
.bench_build/; later runs reuse it while the sources are unchanged.

Each run starts one JVM (graftbench.Main) with its own temp dir and
Spark local dir under .bench_work/, which are deleted when the run ends.
The JVM times the set-up and the ops and writes a result file; this
script checks every op's output, then prints a one-line summary and, as
the last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. A traced run also writes its spans and counters to
.bench_out/traces/<run id>/.

Exit codes: 0 on a completed run (its correctness is in the JSON),
2 when the engine sources or the test data are missing, 3 when the build
fails, 4 when the JVM fails or times out.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import benchlib  # noqa: E402

ROOT = BENCH.parent
BUILD_DIR = ROOT / ".bench_build"
WORK_DIR = ROOT / ".bench_work"
OUT_DIR = ROOT / ".bench_out"

# Workload sizes, chosen so that a run takes about a minute on 4 cores
# (fixed per-query costs, mostly codegen compile, dominate at these
# sizes).
WORKLOADS = {
    "season": {"plays": 120},
    "board": {"sf": "0.001", "stride": 4},
}

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"),
              ("op_p75_s", "s"), ("peak_rss_mb", "MB")]
# The tail percentile, and the fewest board ops that must lie beyond it
# (the panel's 41 queries leave 41 x 0.25 = 10.25).
TAIL_Q = 0.75
MIN_TAIL = 10

JVM_HEAP = "3g"
# A fixed heap and young generation, so peak RSS does not ride on G1's
# adaptive resizing.
JVM_YOUNG = "512m"
RUN_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 800


def die(code, msg):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"benchmark: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- inputs

def testdata_dir(sf):
    """Directory of the scale-factor `sf` test tables: $GRAFT_BENCH_TESTDATA/sf<sf>
    if set, else the location TESTDATA.md at the repository root gives."""
    base = os.environ.get("GRAFT_BENCH_TESTDATA")
    if base:
        d = Path(base) / f"sf{sf}"
    else:
        doc = ROOT / "TESTDATA.md"
        if not doc.is_file():
            die(2, "TESTDATA.md not found; set GRAFT_BENCH_TESTDATA")
        m = re.search(r"^\|\s*" + re.escape(sf) + r"\s*\|\s*`([^`]+)`", doc.read_text(),
                      re.MULTILINE)
        if not m:
            die(2, f"TESTDATA.md has no sf{sf} row; set GRAFT_BENCH_TESTDATA")
        d = Path(m.group(1))
    if not (d / "lineitem.parquet").exists():
        die(2, f"test data not found at {d}")
    return d


def load_expected(name):
    return json.loads((BENCH / "expected" / name).read_text())


# ---------------------------------------------------------------- build

def source_fingerprint():
    """Hash of everything the build compiles, to know when to rebuild."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def ensure_build(fingerprint):
    """Compiles engine and harness with sbt unless the cached build
    matches the sources. Returns the classpath string and the engine
    build's `--add-opens` JVM options, which Spark needs on JDK 17."""
    stamp = BUILD_DIR / "classpath.json"
    if stamp.is_file():
        cached = json.loads(stamp.read_text())
        if cached.get("fingerprint") == fingerprint and all(
                Path(p).exists() for p in cached["classpath"].split(os.pathsep)):
            return cached["classpath"], cached["add_opens"]
    BUILD_DIR.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    (BUILD_DIR / "tmp").mkdir(exist_ok=True)
    # the build's own temp files stay in the checkout too
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={BUILD_DIR / 'tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt (first run in this checkout)")
    t0 = time.time()
    with open(BUILD_DIR / "build.log", "w") as out:
        code = run_group(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath", "show javaOptions"],
                         cwd=BENCH, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
    lines = (BUILD_DIR / "build.log").read_text().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(3, f"sbt build failed (exit {code})")
    cp = next((l.strip() for l in reversed(lines)
               if l.strip() and not l.startswith("[") and "scala-2.13" in l), None)
    if not cp:
        die(3, "sbt printed no classpath")
    shown = [l[len("[info] * "):].strip() for l in lines if l.startswith("[info] * ")]
    add_opens = [a for i in range(len(shown) - 1) if shown[i] == "--add-opens"
                 for a in shown[i:i + 2]]
    if not add_opens:
        die(3, "sbt printed no --add-opens options")
    stamp.write_text(json.dumps({"fingerprint": fingerprint, "classpath": cp,
                                 "add_opens": add_opens}))
    log(f"build done in {time.time() - t0:.0f} s")
    return cp, add_opens


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout (or interrupt) kills
    the whole group and waits for it. Returns the exit code (None on
    timeout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return_code = None
    except BaseException:
        kill_group(p)
        raise
    kill_group(p)
    return return_code


def kill_group(p):
    for sig, grace in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        try:
            os.killpg(p.pid, sig)
        except ProcessLookupError:
            break
        try:
            p.wait(timeout=grace)
            break
        except subprocess.TimeoutExpired:
            continue


# ---------------------------------------------------------------- one JVM run

def run_jvm(build, workload, seed, traced, cfg, work):
    """Runs graftbench.Main once in `work` and returns its result dict."""
    classpath, add_opens = build
    (work / "tmp").mkdir(parents=True)
    cmd = ["java"] + add_opens + [
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dlog4j2.configurationFile=file:{BENCH / 'log4j2.properties'}",
        "-cp", classpath, "graftbench.Main",
        "--workload", workload,
        "--seed", str(seed), "--trace", "1" if traced else "0",
        "--work", str(work), "--out", str(work / "result.json")]
    if workload == "season":
        cmd += ["--plays", str(cfg["plays"])]
    else:
        cmd += ["--data", str(testdata_dir(cfg["sf"])), "--stride", str(cfg["stride"])]
    with open(work / "jvm.log", "w") as out:
        code = run_group(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                         timeout=RUN_TIMEOUT_S)
    result = work / "result.json"
    if code != 0 or not result.is_file():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-60:]
        sys.stderr.write("\n".join(tail) + "\n")
        die(4, "JVM timed out" if code is None else f"JVM failed (exit {code})")
    return json.loads(result.read_text())


# ---------------------------------------------------------------- checks

def season_key(cfg, seed):
    return f"{cfg['plays']}:{seed}"


def check(workload, cfg, seed, res, fingerprint):
    """Failed output checks per op name."""
    if workload == "board":
        pinned = load_expected("board_rows.json")[cfg["sf"]]
        return benchlib.board_problems(res["ops"], pinned)
    key = season_key(cfg, seed)
    pinned = load_expected("season.json").get(key)
    records = OUT_DIR / "season_records.json"
    seen = json.loads(records.read_text()) if records.is_file() else {}
    key = f"{key}:{fingerprint}"
    problems, facts = benchlib.season_problems(
        res["season_out"], res.get("model_metrics"), pinned, seen.get(key))
    if not problems and key not in seen:
        seen[key] = facts
        OUT_DIR.mkdir(exist_ok=True)
        records.write_text(json.dumps(seen, indent=1, sort_keys=True))
    return problems


# ---------------------------------------------------------------- metrics

def end_to_end(res):
    secs = [op["seconds"] for op in res["ops"]]
    # the season's six stages are too few for the tail rule
    tail = MIN_TAIL if res["workload"] == "board" else 0
    return {
        "setup_s": res["setup_s"],
        "wall_s": res["wall_s"],
        "op_p50_s": benchlib.percentile(secs, 0.50),
        "op_p75_s": benchlib.percentile(secs, TAIL_Q, min_tail=tail),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer_units():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def write_trace(res, metrics):
    tdir = OUT_DIR / "traces" / res["trace"]["run_id"]
    tdir.mkdir(parents=True, exist_ok=True)
    selfs = benchlib.self_times(res["trace"]["spans"])
    with open(tdir / "spans.jsonl", "w") as fh:
        for s in res["trace"]["spans"]:
            fh.write(json.dumps(dict(s, run_id=res["trace"]["run_id"],
                                     self_s=selfs[s["id"]])) + "\n")
    (tdir / "counters.json").write_text(json.dumps(res["trace"]["counters"], indent=1))
    (tdir / "per_layer.json").write_text(json.dumps(metrics, indent=1, sort_keys=True))
    return tdir


# ---------------------------------------------------------------- main

def measure(build, workload, seed, traced, cfg, fingerprint):
    work = WORK_DIR / f"{workload}-{seed}-{'t' if traced else 'u'}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_jvm(build, workload, seed, traced, cfg, work)
        problems = check(workload, cfg, seed, res, fingerprint)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            WORK_DIR.rmdir()
        except OSError:
            pass
    return res, problems


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None,
                    help="expected length of the timed region; a run over three "
                         "times as long is reported on stderr")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload not in WORKLOADS:
        die(2, f"unknown workload {args.workload!r} (have: {', '.join(WORKLOADS)})")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(2, f"engine sources not found next to {BENCH.name}/ (run from a full checkout)")
    cfg = WORKLOADS[args.workload]
    if "sf" in cfg:
        testdata_dir(cfg["sf"])
    fingerprint = source_fingerprint()
    build = ensure_build(fingerprint)

    traced = args.trace == 1
    res, problems = measure(build, args.workload, args.seed, traced, cfg, fingerprint)
    attempted, failed, error_rate, failures = benchlib.account(res["ops"], problems)
    for name, why in failures:
        log(f"FAILED {name}: {why}")
    correct = failed == 0
    if args.seconds and res["wall_s"] > 3 * args.seconds:
        log(f"timed region took {res['wall_s']:.1f} s, over 3x the expected {args.seconds:g} s")

    if traced:
        metrics = benchlib.layer_metrics(res["trace"], res["wall_s"], res["cores"])
        if args.workload == "season" and abs(metrics["trace.span_coverage"] - 1) > 0.10:
            log(f"stage spans cover {metrics['trace.span_coverage']:.3f} of wall_s, not 1 +- 0.1")
            correct = False
        tdir = write_trace(res, metrics)
        log(f"trace written to {tdir.relative_to(ROOT)}; tracing overhead "
            f"{metrics['trace.overhead_s']:.3f} s (span bookkeeping plus listener callbacks)")
        units = per_layer_units()
        out = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    else:
        metrics = end_to_end(res)
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END}
        summary = " ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in out.items())
        print(f"{args.workload} seed={args.seed}: {summary} "
              f"error_rate={error_rate:.4g} ratio ({failed}/{attempted} ops failed)")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
