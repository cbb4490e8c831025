"""Metric arithmetic over one run record written by the harness.

Everything here is a pure function of the record, so `test_metrics.py` can
check it without Spark. Per-layer totals are divided by the number of
measured passes: a pass is one closed-loop walk over the workload's steps,
and counts such as `exec.jobs` then repeat exactly for a given seed.
"""
import math
import statistics

MB = 1024.0 * 1024.0
COLLECT_CALLS = ("collect", "collectAsList", "head", "take", "takeAsList",
                 "first", "count", "reduce", "toLocalIterator", "isEmpty",
                 "tail", "aggregate", "fold", "treeAggregate", "treeReduce",
                 "countByKey", "collectAsMap")
PIN_CALLS = ("localCheckpoint", "checkpoint")
TAIL_BEYOND = 10


def tail(samples, beyond=TAIL_BEYOND):
    """Highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n). With n sorted samples the value at
    0-based rank n-1-beyond has exactly `beyond` samples above it; its
    percentile is the share of samples at or below it. With too few
    samples there is no such percentile and the median stands in.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return float("nan"), float("nan"), 0
    if n <= beyond:
        return statistics.median(xs), 50.0, n
    k = n - 1 - beyond
    return xs[k], 100.0 * (k + 1) / n, n


def _beta_cf(a, b, x, eps=1e-14, tiny=1e-300):
    """Continued fraction of the incomplete beta function (Lentz)."""
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < eps:
            break
    return h


def beta_cdf(x, a, b):
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def harrell_davis(samples, p=0.5):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of all
    order statistics. With one sample per step, the plain median of a
    run's dozen step times jumps between neighbouring steps as they trade
    places; this estimate moves smoothly with every step's time."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return float("nan")
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def self_times(spans):
    """Self time of every span in a list of {id, parent, start, end}."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {sp["id"]: self_time((sp["start"], sp["end"]),
                                kids.get(sp["id"], []))
            for sp in spans}


def geomean(xs):
    xs = [x for x in xs if x > 0]
    if not xs:
        return float("nan")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def check_outputs(attempts, checks, steps, expected):
    """Steps whose output differs from the stored expectation.

    Every successful attempt of a query step carries the row count and the
    row hash folded into its consumption; each is compared with
    `expected.json` (row count only where that file records why). A check
    that carries its own verdict, such as the refresh's served rows against
    the registry's gold frame, is taken as is. Returns {step: reason}.
    """
    sf = {s["name"]: s["sf"] for s in steps}
    wrong = {}
    for a in attempts:
        if not a["ok"] or "n_rows" not in a:
            continue
        name = a["step"]
        want = expected.get(f"{sf[name]}/{name}")
        if want is None:
            wrong.setdefault(name, "no expected output")
        elif a["n_rows"] != want["n_rows"]:
            wrong.setdefault(name, f"rows {a['n_rows']} != {want['n_rows']}")
        elif "rows_only" not in want and a["row_hash"] != want["row_hash"]:
            wrong.setdefault(name, f"row hash {a['row_hash']} != {want['row_hash']}")
    for c in checks:
        if "ok" in c and not c["ok"]:
            wrong.setdefault(c["step"], c["detail"])
    return wrong


def _spans_by_id(record):
    return {sp["id"]: sp for sp in record["spans"]}


def step_times(record):
    """(step name, seconds, ok) for every attempt."""
    by = _spans_by_id(record)
    return [(a["step"], by[a["span"]]["end"] - by[a["span"]]["start"], a["ok"])
            for a in record["attempts"]]


def end_to_end(record):
    """The bounded end-to-end metrics, and the reported-only ones.

    The tail (the rule above, over one run's step times) lands below the
    median while a run holds fewer than about 20 steps, and peak RSS moves
    with garbage-collection timing by more than a tenth between runs, so
    both are reported but not bounded.
    """
    passes = [e - s for s, e in record["passes"]]
    times = [t for _, t, _ in step_times(record)]
    value, pct, n = tail(times)
    return {
        "setup_s": statistics.median(record["setup_s"]),
        "wall_s": statistics.median(passes),
        "query_p50_s": harrell_davis(times),
        "query_geomean_s": geomean(times),
    }, {
        "query_tail_s": value, "tail_percentile": pct, "tail_n": n,
        "peak_rss_mb": record["vm_hwm_kb"] / 1024.0,
    }


def _phase_spans(record, phase):
    """Phase spans under step spans, keyed by their step span."""
    by = _spans_by_id(record)
    out = []
    for sp in record["spans"]:
        parent = by.get(sp["parent"])
        if sp["name"] == phase and parent and parent["name"] == "step":
            out.append((sp, parent))
    return out


def per_layer(record):
    """Per-layer metrics of a traced run, per measured pass."""
    tr = record["trace"]
    by = _spans_by_id(record)
    n_pass = max(1, len(record["passes"]))
    lo = record["passes"][0][0]
    hi = record["passes"][-1][1]
    jobs = [j for j in tr["jobs"]
            if "end" in j and lo <= j["start"] <= hi]
    ivs = [(j["start"], j["end"]) for j in jobs]
    job_s = union_length(ivs)
    task_s = sum(j["task_s"] for j in jobs)
    nproc = record["env"]["nproc"]
    stages = [sp for sp in record["spans"] if sp["name"] == "stage"
              and lo <= sp["start"] <= hi]

    def site_call(j):
        return j["site"].split(" at ")[0] if " at " in j["site"] else ""

    steps = [by[a["span"]] for a in record["attempts"]]
    gap = 0.0
    for st in steps:
        inside = clip(ivs, st["start"], st["end"])
        gap += (st["end"] - st["start"]) - union_length(inside)

    refresh_steps = [st for st in steps if st["step"].startswith("refresh_")]
    builds = [sp for sp, st in _phase_spans(record, "build")
              if not st["step"].startswith("refresh_")]
    build_ids = {sp["id"] for sp in builds}
    loads = [sp for sp, _ in _phase_spans(record, "load")]
    load_ids = {sp["id"] for sp in loads}
    plans = [sp for sp, _ in _phase_spans(record, "plan")]
    pins = [j for j in jobs if site_call(j) in PIN_CALLS]
    collects = [j for j in jobs if site_call(j) in COLLECT_CALLS and j.get("op")]
    shapes = [p for k, p in record.get("plans", {}).items()
              if int(k) in {a["span"] for a in record["attempts"]}]
    writes = tr["writes"]
    rows_w = sum(w["rows"] for w in writes)
    bytes_w = sum(w["bytes"] for w in writes)
    batches = tr["batches"]
    last_state = {}
    for b in sorted(batches, key=lambda b: (b["run"], b["batch"])):
        last_state[b["run"]] = b
    c = tr["counters"]

    def dur(sp):
        return sp["end"] - sp["start"]

    def per(x):
        return x / n_pass

    m = {
        "session.start_s": statistics.median(record["session_s"]),
        "session.warm_s": statistics.median(
            [s - t for s, t in zip(record["setup_s"], record["session_s"])]),
        "codegen.compile_ms": per(c["codegen.compile_ms"]),
        "codegen.classes": per(c["codegen.classes"]),
        "entry.build_s": per(sum(dur(sp) for sp in builds)),
        "entry.build_jobs": per(sum(1 for j in jobs if j["span"] in build_ids)),
        "plan.s": per(sum(dur(sp) for sp in plans)),
        "plan.analysis_s": per(sum(p["analysis_s"] for p in shapes)),
        "plan.optimization_s": per(sum(p["optimization_s"] for p in shapes)),
        "plan.planning_s": per(sum(p["planning_s"] for p in shapes)),
        "plan.exchanges": per(sum(p["exchanges"] for p in shapes)),
        "plan.smj": per(sum(p["smj"] for p in shapes)),
        "plan.bhj": per(sum(p["bhj"] for p in shapes)),
        "plan.global_windows": per(sum(p["global_windows"] for p in shapes)),
        "exec.jobs": per(len(jobs)),
        "exec.stages": per(len(stages)),
        "exec.tasks": per(sum(j["tasks"] for j in jobs)),
        "exec.job_s": per(job_s),
        "exec.task_s": per(task_s),
        "exec.task_cpu_s": per(sum(j["task_cpu_s"] for j in jobs)),
        "exec.slot_util": task_s / (nproc * job_s) if job_s > 0 else 0.0,
        "exec.shuffle_read_mb": per(sum(j["shuffle_read_b"] for j in jobs) / MB),
        "exec.shuffle_write_mb": per(sum(j["shuffle_write_b"] for j in jobs) / MB),
        "exec.spill_mb": per(sum(j["spill_b"] for j in jobs) / MB),
        "exec.input_mb": per(sum(j["input_b"] for j in jobs) / MB),
        "exec.task_retries": per(sum(j["retries"] for j in jobs)),
        "driver.gap_s": per(gap),
        "driver.result_mb": per(sum(j["result_b"] for j in jobs) / MB),
        "driver.collect_jobs": per(len(collects)),
        "pin.jobs": per(len(pins)),
        "pin.s": per(union_length([(j["start"], j["end"]) for j in pins])),
        "pin.mb": per(tr["rdd_block_b"] / MB),
        "lake.rows_written": per(rows_w),
        "lake.mb_written": per(bytes_w / MB),
        "lake.files_written": per(sum(w["files"] for w in writes)),
        "lake.commits": per(len(writes)),
        "lake.bytes_per_row": bytes_w / rows_w if rows_w else 0.0,
        "lake.refresh_day_s": statistics.median([dur(s) for s in refresh_steps])
        if refresh_steps else 0.0,
        "lake.stored_mb": record["stored_b"] / MB,
        "listing.files_discovered": per(c["listing.files_discovered"]),
        "listing.file_cache_hits": per(c["listing.file_cache_hits"]),
        "jdbc.load_s": per(sum(dur(sp) for sp in loads)),
        "jdbc.rows": per(sum(j["output_rows"] for j in jobs if j["span"] in load_ids)),
        "stream.batches": per(len(batches)),
        "stream.rows": per(sum(b["rows"] for b in batches)),
        "stream.batch_p50_ms": 1e3 * statistics.median([b["trigger_s"] for b in batches])
        if batches else 0.0,
        "stream.add_batch_s": per(sum(b.get("ms.addBatch", 0) for b in batches) / 1e3),
        "stream.wal_commit_s": per(sum(b.get("ms.walCommit", 0) for b in batches) / 1e3),
        "stream.commit_offsets_s": per(sum(b.get("ms.commitOffsets", 0) for b in batches) / 1e3),
        "stream.query_planning_s": per(sum(b.get("ms.queryPlanning", 0) for b in batches) / 1e3),
        "stream.state_rows": per(sum(b["state_rows"] for b in last_state.values())),
        "stream.state_mb": per(sum(b["state_b"] for b in last_state.values()) / MB),
        "jvm.gc_pause_s": per(c["jvm.gc_ms"] / 1e3),
        "jvm.peak_rss_mb": record["vm_hwm_kb"] / 1024.0,
        "query.tail_s": tail([t for _, t, _ in step_times(record)])[0],
        "jvm.heap_peak_mb": tr["heap_peak_b"] / MB,
    }
    by_op = {}
    for j in jobs:
        if j.get("op"):
            by_op.setdefault(j["op"], []).append((j["start"], j["end"]))
    ops = sorted(((f"ops.{k}.job_s", per(union_length(v))) for k, v in by_op.items()),
                 key=lambda kv: -kv[1])[:8]
    return m, dict(ops)


def span_tree(record):
    """Spans of the run as one list: the harness's own spans, Spark jobs
    under the phase that started them, stages under their job, and
    micro-batches under their step, each with its self time."""
    tr = record.get("trace") or {}
    out = [dict(sp) for sp in record["spans"] if sp["name"] != "stage"]
    own = list(out)

    def innermost_at(t):
        best = None
        for sp in own:
            if sp["start"] <= t <= sp["end"] and (
                    best is None or sp["start"] >= best["start"]):
                best = sp
        return best["id"] if best else -1
    next_id = max([sp["id"] for sp in record["spans"]], default=-1) + 1
    job_ids = {}
    for j in tr.get("jobs", []):
        if "end" not in j:
            continue
        job_ids[j["job"]] = next_id
        parent = j["span"] if j["span"] >= 0 else innermost_at(j["start"])
        out.append({"id": next_id, "parent": parent, "name": "job",
                    "start": j["start"], "end": j["end"], "job": j["job"],
                    "site": j["site"]})
        next_id += 1
    for sp in record["spans"]:
        if sp["name"] == "stage" and sp["job"] in job_ids:
            out.append(dict(sp, id=next_id, parent=job_ids[sp["job"]]))
            next_id += 1
    for b in tr.get("batches", []):
        out.append({"id": next_id, "parent": innermost_at(b["start"]),
                    "name": "microbatch",
                    "start": b["start"], "end": b["start"] + b["trigger_s"],
                    "batch": b["batch"]})
        next_id += 1
    st = self_times(out)
    for sp in out:
        sp["self_s"] = st[sp["id"]]
    return out
