"""Pure logic of the benchmark: percentiles, output digests, op
accounting, output checks and span arithmetic. No process or JVM work
happens here, so it is unit-tested in isolation (benchmark/tests)."""

import hashlib
import json
import math
from pathlib import Path


# ---------------------------------------------------------------- percentiles

def tail_samples(n, q):
    """Number of samples (possibly fractional) beyond percentile q of n."""
    return n * (1.0 - q)


def _beta_cf(a, b, x):
    """Continued fraction of the regularized incomplete beta function
    (modified Lentz), converging for x < (a + 1) / (a + b + 2)."""
    tiny = 1e-300

    def nz(v):
        return v if abs(v) > tiny else tiny

    c, d = 1.0, 1.0 / nz(1.0 - (a + b) * x / (a + 1.0))
    h = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 / nz(1.0 + num * d)
            c = nz(1.0 + num / c)
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def beta_cdf(a, b, x):
    """Regularized incomplete beta function I_x(a, b): the CDF at x of
    the Beta(a, b) distribution."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def percentile(values, q, min_tail=0):
    """Percentile q (0 < q < 1) by the Harrell-Davis estimator: a mean of
    all the sorted values, the i-th of n weighted by the probability a
    Beta((n+1)q, (n+1)(1-q)) variable falls in [(i-1)/n, i/n]. Op
    latencies have gaps (a few slow queries, many fast ones), and reading
    one or two order statistics there jumps between runs; the weighted
    mean does not. Refuses (ValueError) when fewer than `min_tail`
    samples lie beyond q, so a tail percentile is never read off a
    handful of samples."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if not 0.0 < q < 1.0:
        raise ValueError(f"percentile {q} outside (0, 1)")
    if tail_samples(len(xs), q) < min_tail:
        raise ValueError(
            f"p{q * 100:g} of {len(xs)} samples leaves "
            f"{tail_samples(len(xs), q):.2f} beyond it, fewer than {min_tail}")
    n = len(xs)
    a, b = (n + 1) * q, (n + 1) * (1.0 - q)
    cdf = [beta_cdf(a, b, i / n) for i in range(n + 1)]
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(xs))


# ---------------------------------------------------------------- CSV outputs

def csv_parts(directory):
    return sorted(Path(directory).glob("part-*.csv"))


def csv_rows(directory):
    """Data rows of a Spark CSV output directory (header line of each
    part file excluded)."""
    rows = []
    for part in csv_parts(directory):
        lines = part.read_text(encoding="utf-8").splitlines()
        rows.extend(lines[1:])
    return rows


def csv_header(directory):
    for part in csv_parts(directory):
        with open(part, encoding="utf-8") as fh:
            line = fh.readline().rstrip("\n")
            if line:
                return line.split(",")
    return []


def digest_rows(rows):
    """Order-independent digest of a table's rows: SHA-256 over the
    sorted row texts. The same rows in any order or any split into part
    files give the same digest."""
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update(row.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


# ---------------------------------------------------------------- accounting

def account(ops, problems):
    """Failed-op accounting. `ops` are the harness's op records (each
    with `name` and `error`); `problems` maps an op name to the list of
    its failed output checks. An op fails when it threw or when any of
    its checks failed; every op counts once. Returns
    (attempted, failed, error_rate, failures) with failures a list of
    (op name, reason)."""
    failures = []
    for op in ops:
        reasons = ([op["error"]] if op.get("error") else []) + list(problems.get(op["name"], []))
        if reasons:
            failures.append((op["name"], "; ".join(str(r) for r in reasons)))
    attempted = len(ops)
    failed = len(failures)
    return attempted, failed, (failed / attempted if attempted else 1.0), failures


def board_problems(ops, expected_rows):
    """Row-count check of every board query against its pinned count."""
    problems = {}
    for op in ops:
        want = expected_rows.get(op["name"])
        if op.get("error"):
            continue
        if want is None:
            problems[op["name"]] = ["no pinned row count"]
        elif op.get("rows") != want:
            problems[op["name"]] = [f"rows {op.get('rows')} != pinned {want}"]
    return problems


# ---------------------------------------------------------------- season

SEASON_TABLES = ["clean_before", "clean_plays", "train", "test",
                 "inference", "scored_frames", "scores.csv"]
STAGE_TABLES = {
    "domain.clean": ["clean_before", "clean_plays"],
    "domain.featurize": ["train", "test", "inference"],
    "ml.infer": ["scored_frames"],
    "domain.score": ["scores.csv"],
}
METRIC_NAMES = ["auc", "logloss", "brier"]


def season_facts(out_dir, metrics):
    """Row counts of every stage output, the scores digest and the model
    metrics (as exact float hex) of one season run."""
    out = Path(out_dir)
    rows = {t: csv_rows(out / t) for t in SEASON_TABLES}
    facts = {"rows": {t: len(r) for t, r in rows.items()},
             "scores_digest": digest_rows(rows["scores.csv"]),
             "metrics_hex": {k: float(metrics[k]).hex() for k in METRIC_NAMES}
             if metrics else None}
    return facts, rows


def season_problems(out_dir, metrics, pinned=None, previous=None):
    """Checks of one season run, per stage.

    Always: every output is non-empty; inference scores every frame once;
    probabilities lie in [0, 1]; there is one score row per scored play,
    with finite scores; the persisted model and metrics file exist and
    agree with the trained metrics. With `pinned` (the committed values
    for this size and seed) or `previous` (an earlier run of the same
    code, size and seed): row counts, the scores digest and the model
    metrics must match exactly. Returns (problems, facts)."""
    problems = {}
    out = Path(out_dir)

    def bad(stage, msg):
        problems.setdefault(stage, []).append(msg)

    if metrics is not None and None in (metrics.get(k) for k in METRIC_NAMES):
        bad("ml.train", f"model metrics not all finite: {metrics}")
        metrics = None
    facts, rows = season_facts(out, metrics)
    for stage, tables in STAGE_TABLES.items():
        for t in tables:
            if facts["rows"][t] == 0:
                bad(stage, f"{t} is empty")
    if facts["rows"]["scored_frames"] != facts["rows"]["inference"]:
        bad("ml.infer", f"scored {facts['rows']['scored_frames']} of "
                        f"{facts['rows']['inference']} inference frames")
    head = csv_header(out / "scored_frames")
    if "non_completion_probability" in head:
        i = head.index("non_completion_probability")
        k = (head.index("game_id"), head.index("play_id"))
        plays = set()
        for r in rows["scored_frames"]:
            cells = r.split(",")
            p = float(cells[i])
            if not 0.0 <= p <= 1.0:
                bad("ml.infer", f"probability {p} outside [0, 1]")
                break
            plays.add((cells[k[0]], cells[k[1]]))
        if facts["rows"]["scores.csv"] != len(plays):
            bad("domain.score", f"{facts['rows']['scores.csv']} score rows for "
                                f"{len(plays)} scored plays")
    elif facts["rows"]["scored_frames"]:
        bad("ml.infer", "scored frames lack non_completion_probability")
    head = csv_header(out / "scores.csv")
    for col in ("deception_score", "recovery_score"):
        if col not in head:
            if facts["rows"]["scores.csv"]:
                bad("domain.score", f"scores lack {col}")
            continue
        i = head.index(col)
        for r in rows["scores.csv"]:
            v = r.split(",")[i]
            if v not in ("\\N",) and not math.isfinite(float(v)):
                bad("domain.score", f"{col} {v} is not finite")
                break
    if metrics is None:
        problems.setdefault("ml.train", ["no model metrics"])
    else:
        if not 0.0 <= metrics["auc"] <= 1.0:
            bad("ml.train", f"auc {metrics['auc']} outside [0, 1]")
        if not (out / "model" / "metadata").is_dir():
            bad("ml.persist", "saved model has no metadata")
        mfile = out / "metrics.json"
        if not mfile.is_file():
            bad("ml.persist", "metrics.json missing")
        elif json.loads(mfile.read_text()) != {k: metrics[k] for k in METRIC_NAMES}:
            bad("ml.persist", "metrics.json disagrees with the trained model's metrics")
    for name, ref in (("pinned", pinned), ("previous run", previous)):
        if not ref:
            continue
        for stage, tables in STAGE_TABLES.items():
            for t in tables:
                if facts["rows"][t] != ref["rows"][t]:
                    bad(stage, f"{t} rows {facts['rows'][t]} != {name} {ref['rows'][t]}")
        if facts["scores_digest"] != ref["scores_digest"]:
            bad("domain.score", f"scores digest differs from {name}")
        if facts["metrics_hex"] != ref["metrics_hex"]:
            bad("ml.train", f"model metrics {facts['metrics_hex']} != {name} {ref['metrics_hex']}")
    return problems, facts


# ---------------------------------------------------------------- spans

def span_seconds(span):
    return (span["end_ns"] - span["start_ns"]) / 1e9


def self_times(spans):
    """Self time of every span: its duration less its children's."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + span_seconds(s)
    return {s["id"]: span_seconds(s) - child.get(s["id"], 0.0) for s in spans}


# ---------------------------------------------------------------- per layer

STAGES = ["domain.clean", "domain.featurize", "ml.train", "ml.persist",
          "ml.infer", "domain.score"]
MODULES = ["relational", "kernels", "textsim", "curate"]


def layer_metrics(trace, wall_s, cores):
    """Per-layer metrics of a traced run, from its spans and counters.

    Layers a workload does not exercise read 0. Spark counters cover the
    timed region (the `run` span and everything under it). Per-span
    counters (codegen compile time, jobs, task run time) are given for
    each season stage and each board module (the sum of its queries'
    build and action spans). `trace.overhead_s` is the tracer's own
    measured cost: span bookkeeping on the driver thread plus listener
    callbacks."""
    spans = trace["spans"]
    by_id = {s["id"]: s for s in spans}
    per_span = {int(k): v for k, v in trace["counters"]["per_span"].items()}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])

    def subtree(ids):
        out, todo = set(), list(ids)
        while todo:
            i = todo.pop()
            if i not in out:
                out.add(i)
                todo.extend(children.get(i, []))
        return out

    def counter(ids, key):
        return sum(per_span.get(i, {}).get(key, 0) for i in subtree(ids))

    def codegen(ids, key):
        return sum(by_id[i]["attrs"].get(key, 0) for i in ids) / 1e9

    def named(name):
        return [s["id"] for s in spans if s["name"] == name]

    def dur(name):
        return sum(span_seconds(by_id[i]) for i in named(name))

    m = {f"{n}_s": dur(n) for n in ("setup.session", "setup.warm", "season.gen",
                                     "io.bucketed_pair")}
    groups = {n: named(n) for n in STAGES}
    for n in STAGES:
        m[f"{n}_s"] = dur(n)
    for mod in MODULES:
        for part in ("build", "action"):
            m[f"queries.{mod}.{part}_s"] = dur(f"queries.{mod}.{part}")
        groups[f"queries.{mod}"] = named(f"queries.{mod}.build") + named(f"queries.{mod}.action")

    run = named("run")
    run_start_ms = by_id[run[0]]["start_ns"] / 1e6
    phases = {p: sum(d for (ph, start, d) in trace["counters"]["planning"]
                     if ph == p and start >= run_start_ms) / 1e3
              for p in ("analysis", "optimization", "planning")}
    task_run = counter(run, "task_run_ms") / 1e3
    task_cpu = counter(run, "task_cpu_ns") / 1e9
    m.update({
        "spark.analysis_s": phases["analysis"],
        "spark.optimization_s": phases["optimization"],
        "spark.planning_s": phases["planning"],
        "spark.codegen_compile_s": codegen(run, "codegen_compile_ns"),
        "spark.wscg_codegen_s": codegen(run, "wscg_codegen_ns"),
        "spark.jobs": counter(run, "jobs"),
        "spark.stages": counter(run, "stages"),
        "spark.tasks": counter(run, "tasks"),
        "spark.task_run_s": task_run,
        "spark.task_cpu_s": task_cpu,
        "spark.gc_s": counter(run, "gc_ms") / 1e3,
        "spark.shuffle_write_mb": counter(run, "shuffle_write_bytes") / 2**20,
        "spark.shuffle_read_mb": counter(run, "shuffle_read_bytes") / 2**20,
        "spark.spill_mb": counter(run, "spill_bytes") / 2**20,
        "spark.slot_busy_ratio": task_run / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.cpu_ratio": task_cpu / task_run if task_run > 0 else 0.0,
    })
    for g, ids in groups.items():
        m[f"{g}.codegen_compile_s"] = codegen(ids, "codegen_compile_ns")
        m[f"{g}.jobs"] = counter(ids, "jobs")
        m[f"{g}.task_run_s"] = counter(ids, "task_run_ms") / 1e3
    # the ops, one after another, make up the timed region
    ops = [s for s in spans if s["parent"] == run[0]]
    m["trace.span_coverage"] = sum(span_seconds(s) for s in ops) / wall_s if wall_s > 0 else 0.0
    m["trace.wall_s"] = wall_s
    own = trace["tracer_self_ns"]
    m["trace.overhead_s"] = (own["driver"] + own["listener"]) / 1e9
    return m
