"""Arithmetic and checks of the htmlspark benchmark.

The JVM side (scala/perfbench/PerfBench.scala) writes a raw record of what
it measured; everything computed from that record lives here, so it can be
unit-tested without a JVM: medians and percentiles, every ratio with its
base, per-group self time from the listener's job spans, and the output
checks that turn a wrong result into FAIL.
"""

import statistics

# Spark groups of the traced run, each an isolated action on the corpus.
GROUPS = (
    "scan",
    "ParseJob.saltBySize",
    "ParseJob.parseAll",
    "ParseJob.run",
    "IcebergishIO.commit",
    "IcebergishIO.resumeFilter",
)

GROUP_FIELDS = (
    ("wall_s", "s"),
    ("self_s", "s"),
    ("cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("fetch_wait_s", "s"),
    ("spill_mb", "MB"),
    ("task_skew", "ratio"),
    ("slot_busy_frac", "ratio"),
)

KERNEL_METRICS = (
    ("encoding.sniff_ns_per_doc", "ns"),
    ("encoding.decode_ns_per_doc", "ns"),
    ("tree.parse_ns_per_doc", "ns"),
    ("extract.extract_ns_per_doc", "ns"),
    ("kernel.other_ns_per_doc", "ns"),
    ("kernel.parsePage_ns_p50", "ns"),
    ("kernel.parsePage_ns_p99", "ns"),
    ("kernel.docs_per_s_1t", "1/s"),
    ("encoding.restart_frac", "ratio"),
)

RATIO_METRICS = (
    ("ParseJob.parsed_per_survivor", "ratio"),
    ("ParseJob.salt_shuffle_frac", "ratio"),
    ("IcebergishIO.resume_kept_frac", "ratio"),
    ("IcebergishIO.table_bytes_per_doc", "B"),
)

CODEGEN_METRICS = (
    ("codegen.first.compile_s", "s"),
    ("codegen.first.compiles", "count"),
    ("codegen.warm.compile_s", "s"),
    ("codegen.warm.compiles", "count"),
)

OVERHEAD_METRIC = ("trace.overhead_docs_per_s", "1/s")

END_TO_END = (
    ("setup_s", "s"),
    ("warmup_s", "s"),
    ("job_s", "s"),
    ("heap_live_mb", "MB"),
)


class BenchError(Exception):
    """The run cannot produce a result; run.py exits non-zero."""


# ------------------------------------------------------------------ stats

def median(xs):
    if not xs:
        raise BenchError("median of no samples")
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p % of
    the samples at or below it."""
    if not xs:
        raise BenchError("percentile of no samples")
    s = sorted(xs)
    rank = -(-p * len(s) // 100)  # ceil
    return s[max(int(rank), 1) - 1]


def ratio(num, den, what):
    """num / den; `what` names the base in the error when it is zero."""
    if den == 0:
        raise BenchError(f"ratio base is zero: {what}")
    return num / den


# -------------------------------------------------------------- intervals

def covered(intervals, start, end):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals
                     if min(b, end) > max(a, start))
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(children, start, end)


# ----------------------------------------------------------------- groups

def group_metrics(span, cores):
    """Per-group metrics from one traced span: its interval, GC delta, the
    Spark jobs it ran (child spans) and one record per finished task:
    [stage, duration ms, run ms, cpu ns, shuffle write B, shuffle read B,
    fetch wait ms, disk spill B]."""
    wall_ms = span["end_ms"] - span["start_ms"]
    tasks = span["tasks"]
    if wall_ms <= 0 or not tasks:
        raise BenchError("traced group ran no Spark tasks")

    def total(i):
        return sum(t[i] for t in tasks)

    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t[0], []).append(t)
    heaviest = max(by_stage.values(), key=lambda ts: sum(t[2] for t in ts))
    durations = [t[1] for t in heaviest]
    return {
        "wall_s": wall_ms / 1e3,
        "self_s": self_time(span["start_ms"], span["end_ms"], span["jobs"]) / 1e3,
        "cpu_s": total(3) / 1e9,
        "gc_s": span["gc_ms"] / 1e3,
        "shuffle_write_mb": total(4) / 1e6,
        "shuffle_read_mb": total(5) / 1e6,
        "fetch_wait_s": total(6) / 1e3,
        "spill_mb": total(7) / 1e6,
        # heaviest stage of the group: its slowest task over its median task
        "task_skew": ratio(max(durations), max(median(durations), 1),
                           "median task ms of the heaviest stage"),
        "slot_busy_frac": ratio(total(2), wall_ms * cores, "wall ms x cores"),
    }


# ----------------------------------------------------------------- checks

def crawl_problems(rep, expected):
    """Why a crawl rep's committed table is wrong; empty when it is right.

    `expected` holds the distinct url count and the digest of the
    template-derived text (PagesGen.fullExpectedText of each url's surviving
    crawl), both from the prepare step, and the digest of the plain-JVM
    parsePage reference pass."""
    problems = []
    n = expected["n_urls"]
    if rep["rows"] != n:
        problems.append(f"{rep['rows']} rows for {n} distinct urls")
    if rep["urls"] != n:
        problems.append(f"{rep['urls']} distinct urls, expected {n}")
    if rep["failed_rows"]:
        problems.append(f"{rep['failed_rows']} rows failed to parse")
    if rep["digest"] != expected["template_digest"]:
        problems.append("text differs from PagesGen.fullExpectedText")
    if rep["digest"] != expected["reference_digest"]:
        problems.append("text differs from the plain parsePage pass")
    return problems


def query_problems(name, rec, expected):
    """Why one query result is wrong; empty when it is right. `expected`
    maps each query to its row count and, where the output is fixed by the
    data, the digest of its rows (null where it holds measured values)."""
    if name not in expected:
        return [f"no expected output recorded for {name}"]
    if not rec.get("ok"):
        return [f"error: {rec.get('error')}"]
    exp = expected[name]
    problems = []
    if rec["rows"] != exp["rows"]:
        problems.append(f"{rec['rows']} rows, expected {exp['rows']}")
    if exp["digest"] is not None and rec["digest"] != exp["digest"]:
        problems.append("row digest differs from the recorded oracle-checked output")
    return problems


class Outcome:
    """Attempted and failed counts plus the log lines of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.lines = []

    def check(self, label, problems, ok_text):
        self.attempted += 1
        if problems:
            self.failed += 1
            self.lines.append(f"{label}: FAIL {'; '.join(problems)}")
            return False
        self.lines.append(f"{label}: {ok_text}")
        return True


def check_crawl_reps(reps, expected, out, labels):
    """Checks every rep; returns the wall seconds of the reps that passed,
    keyed by rep index."""
    walls = {}
    rows_in = expected["rows_in"]
    for k, (rep, label) in enumerate(zip(reps, labels)):
        ok_text = (f"{rep['wall_s']:.4f} s, {rows_in / rep['wall_s']:.1f} docs/s"
                   f", {rep['table_bytes']} table bytes")
        if out.check(label, crawl_problems(rep, expected), ok_text):
            walls[k] = rep["wall_s"]
    return walls


def check_query_passes(passes, expected, out, labels):
    """Checks every query of every pass; returns the per-query seconds of
    each pass and the wall of each pass whose queries all passed."""
    per_query = []
    pass_walls = {}
    for k, (p, label) in enumerate(zip(passes, labels)):
        times = {}
        for name in sorted(set(expected) | set(p["queries"])):
            rec = p["queries"].get(name, {"ok": False, "error": "not run"})
            if out.check(f"{label} {name}", query_problems(name, rec, expected),
                         f"{rec.get('s', 0):.4f} s"):
                times[name] = rec["s"]
        per_query.append(times)
        if len(times) == len(expected):
            pass_walls[k] = sum(times.values())
            out.lines.append(f"{label}: {pass_walls[k]:.4f} s over {len(times)} queries")
        else:
            out.lines.append(f"{label}: FAIL")
    return per_query, pass_walls


def untag(tagged, noun):
    """Splits phase-tagged reps into their phases, the reps and labels."""
    phases = [t["phase"] for t in tagged]
    if not phases or phases[0] != "first":
        raise BenchError(f"the run made no first {noun}")
    return (phases, [t["rep"] for t in tagged],
            [f"{noun} {k} ({p})" for k, p in enumerate(phases)])


# ---------------------------------------------------------------- metrics

def end_to_end(workload, raw, expected, out):
    """The end-to-end metrics of an untraced run. Each rep carries its
    phase: "first" (the first job in the session), "warmup" (jobs that are
    still getting faster) or "measured". warmup_s sums the first and the
    warm-up jobs; job_s is the median of the measured ones."""
    if workload == "crawl-full":
        phases, reps, labels = untag(raw["reps"], "rep")
        walls = check_crawl_reps(reps, expected, out, labels)
        unit = "job (scan -> ParseJob.run -> IcebergishIO.commit)"
    else:
        phases, reps, labels = untag(raw["reps"], "pass")
        _, walls = check_query_passes(reps, expected, out, labels)
        unit = "warm pass of the query suite"
    warmup = [k for k, p in enumerate(phases) if p != "measured"]
    if any(k not in walls for k in warmup):
        raise BenchError("a first or warm-up rep failed, so warmup_s has no sample")
    measured = [w for k, w in walls.items() if phases[k] == "measured"]
    if not measured:
        raise BenchError("no measured rep passed its check")
    m = {
        "setup_s": median(raw["setup_s"]),
        "warmup_s": sum(walls[k] for k in warmup),
        "job_s": median(measured),
        "heap_live_mb": raw["heap_live_bytes"] / 1e6,
    }
    out.lines.append(f"setup_s = median of {len(raw['setup_s'])} session bring-ups "
                     f"{[round(x, 4) for x in raw['setup_s']]}")
    out.lines.append(f"warmup_s = the first and {len(warmup) - 1} warm-up reps")
    out.lines.append(f"job_s = median of {len(measured)} passing measured reps; "
                     f"one rep = {unit}")
    if workload == "crawl-full":
        rows_in = expected["rows_in"]
        out.lines.append(
            f"docs_per_s = {rows_in} incoming rows / job_s = {rows_in / m['job_s']:.1f}"
            f" ({expected['html_bytes'] / 1e6:.1f} MB of HTML, {expected['n_urls']} urls)")
        per_doc = [reps[k]["table_bytes"] / reps[k]["rows"] for k in walls]
        out.lines.append(f"table_bytes_per_doc = committed snapshot bytes / committed rows"
                         f" = {median(per_doc):.1f}")
    return m


def query_layer(tagged, expected, out):
    """Per-query medians over the measured passes, and the codegen deltas
    of the first pass and of the measured passes."""
    phases, passes, labels = untag(tagged, "pass")
    per_query, _ = check_query_passes(passes, expected, out, labels)
    measured = [k for k, p in enumerate(phases) if p == "measured"]
    m = {}
    for name in sorted(expected):
        samples = [per_query[k][name] for k in measured if name in per_query[k]]
        if not samples:
            raise BenchError(f"{name} passed in no measured pass")
        m[f"query.{name}_s"] = median(samples)
    m["codegen.first.compile_s"] = passes[0]["compile_ns"] / 1e9
    m["codegen.first.compiles"] = passes[0]["compiles"]
    m["codegen.warm.compile_s"] = median([passes[k]["compile_ns"] / 1e9 for k in measured])
    m["codegen.warm.compiles"] = median([passes[k]["compiles"] for k in measured])
    return m


def kernel_layer(k):
    """Single-thread kernel pass: medians over its passes."""
    docs = k["docs"]
    means, p50, p99, rate = [], [], [], []
    for ns in k["parse_ns"]:
        means.append(sum(ns) / docs)
        p50.append(percentile(ns, 50))
        p99.append(percentile(ns, 99))
        rate.append(ratio(docs, sum(ns) / 1e9, "kernel pass seconds"))
    phases = [median([p[i] / docs for p in k["phase_ns"]]) for i in range(4)]
    return {
        "encoding.sniff_ns_per_doc": phases[0],
        "encoding.decode_ns_per_doc": phases[1],
        "tree.parse_ns_per_doc": phases[2],
        "extract.extract_ns_per_doc": phases[3],
        # restart, meta walk, node count, row build: parsePage minus phases
        "kernel.other_ns_per_doc": median(means) - sum(phases),
        "kernel.parsePage_ns_p50": median(p50),
        "kernel.parsePage_ns_p99": median(p99),
        "kernel.docs_per_s_1t": median(rate),
        "encoding.restart_frac": ratio(k["restarts"], docs, "kernel sample docs"),
    }


def per_layer(raw, expected_queries, expected_corpus, out):
    """Every per-layer metric of a traced run, and the base of each ratio
    as a log line."""
    m = query_layer(raw["queries"], expected_queries, out)
    m.update(kernel_layer(raw["kernel"]))
    k = raw["kernel"]
    out.lines.append(f"kernel pass: {k['docs']} docs, {len(k['parse_ns'])} passes, "
                     f"one thread; encoding.restart_frac base = {k['docs']} docs")
    cores = int(raw["cores"])
    for g in GROUPS:
        if g not in raw["spans"]:
            raise BenchError(f"traced group {g} is missing")
        for f, v in group_metrics(raw["spans"][g], cores).items():
            m[f"{g}.{f}"] = v
    b = raw["bases"]
    m["ParseJob.parsed_per_survivor"] = ratio(b["rows_in"], b["survivors"], "survivor rows")
    m["ParseJob.salt_shuffle_frac"] = ratio(
        m["ParseJob.saltBySize.shuffle_write_mb"] * 1e6, b["html_bytes"], "input HTML bytes")
    m["IcebergishIO.resume_kept_frac"] = ratio(b["resume_kept"], b["rows_in"], "incoming rows")
    m["IcebergishIO.table_bytes_per_doc"] = ratio(
        b["table_bytes"], b["committed_rows"], "committed rows")
    out.lines += [
        f"ParseJob.parsed_per_survivor base: {b['rows_in']} rows parsed / "
        f"{b['survivors']} survivors",
        f"ParseJob.salt_shuffle_frac base: salt-exchange bytes / {b['html_bytes']} "
        f"input HTML bytes",
        f"IcebergishIO.resume_kept_frac base: kept rows {b['resume_kept']} / "
        f"{b['rows_in']} incoming rows (table holds 90 % of urls)",
        f"IcebergishIO.table_bytes_per_doc base: {b['table_bytes']} bytes / "
        f"{b['committed_rows']} committed rows",
        f"slot_busy_frac base: task run time / (group wall x {cores} cores); "
        f"task_skew base: median task of the group's heaviest stage",
    ]

    def overhead_reps(traced):
        reps = [o["rep"] for o in raw["overhead"] if o["traced"] == traced]
        label = "traced" if traced else "untraced"
        return check_crawl_reps(reps, expected_corpus, out,
                                [f"{label} rep {k}" for k in range(len(reps))])

    traced, plain = overhead_reps(True), overhead_reps(False)
    if not traced or not plain:
        raise BenchError("no overhead rep passed its check")
    rows_in = expected_corpus["rows_in"]
    on = median([rows_in / w for w in traced.values()])
    off = median([rows_in / w for w in plain.values()])
    m["trace.overhead_docs_per_s"] = on - off
    out.lines.append(f"trace.overhead_docs_per_s = traced {on:.1f} - untraced {off:.1f} "
                     f"docs/s (crawl-full job, {rows_in} incoming rows)")
    return m


def per_layer_names(query_names):
    """Every per-layer metric name with its unit, in report order."""
    names = [(f"query.{q}_s", "s") for q in sorted(query_names)]
    names += list(CODEGEN_METRICS)
    names += list(KERNEL_METRICS)
    names += [(f"{g}.{f}", u) for g in GROUPS for f, u in GROUP_FIELDS]
    names += list(RATIO_METRICS)
    names.append(OVERHEAD_METRIC)
    return names
