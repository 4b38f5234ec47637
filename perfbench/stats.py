"""Statistics over one run record written by the harness: output checks,
end-to-end metrics, and per-layer metrics from the traced passes."""
import math
import statistics
from collections import defaultdict

# spans the harness opens around its own calls into the program; jobs
# and catalyst phases hang below the build or action span of a key
HOLDERS = ("operators.build", "action")
# listener times are whole milliseconds; allow that much slack when
# placing a span inside another by time
SLACK_MS = 1.0


def median(values):
    return statistics.median(values) if values else 0.0


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = values[0] if values else 0.0
        return (v, v, v)
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q1, q2, q3)


def tail_percentile(values, q=0.9, min_beyond=10):
    """The nearest-rank q-quantile, or None unless at least `min_beyond`
    samples lie strictly beyond it (a percentile with fewer samples in
    its tail is not reported)."""
    if not values:
        return None
    v = sorted(values)
    p = v[max(0, math.ceil(q * len(v)) - 1)]
    beyond = sum(1 for x in v if x > p)
    return p if beyond >= min_beyond else None


def covered_ms(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of `intervals`."""
    segs = sorted((max(lo, a), min(hi, b)) for a, b in intervals
                  if min(hi, b) > max(lo, a))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_ms(span, kids):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - covered_ms(
        span["start"], span["end"], [(k["start"], k["end"]) for k in kids])


def check_outputs(samples, expected):
    """Count key executions and failures: an exception, or a digest that
    differs from the expected one, is a failure."""
    failures = []
    for s in samples:
        want = expected.get(s["key"], {}).get("digest")
        if s["error"] is not None:
            failures.append({"key": s["key"], "pass": s["pass"],
                             "why": s["error"][:300]})
        elif s["digest"] != want:
            failures.append({"key": s["key"], "pass": s["pass"],
                             "why": f"digest {s['digest']} != {want}"})
    return {"attempted": len(samples), "failed": len(failures),
            "failures": failures}


def end_to_end(record, setup_s):
    plain = [p for p in record["passes"] if not p["traced"]] or record["passes"]
    passes = [p["wall_s"] for p in plain]
    lat = [s["wall_s"] for s in record["samples"]]
    p90 = tail_percentile(lat)
    q1, q2, q3 = quartiles(passes)
    metrics = {"setup_s": setup_s, "pass_s": q2,
               "pass_cpu_s": median([p["cpu_s"] for p in plain]),
               "query_s.p50": median(lat),
               "peak_rss_mb": record["peak_rss_mb"]}
    detail = {"pass_s.quartiles": [q1, q2, q3], "passes": len(passes),
              "query_s.samples": len(lat), "measured_s": record["measured_s"],
              "query_s.p90": p90}
    if p90 is None:
        detail["query_s.p90_omitted"] = (
            f"fewer than 10 of {len(lat)} samples lie beyond the 90th "
            "percentile")
    return {"metrics": metrics, "detail": detail}


def _place(spans):
    """Give every span its parent: the harness and the job listener name
    theirs; catalyst phases (and any job submitted without the local
    property) go to the innermost build or action span containing them."""
    by_id = {s["id"]: s for s in spans}
    holders = sorted((s for s in spans if s["kind"] in HOLDERS),
                     key=lambda s: s["start"])
    for s in spans:
        parent = s["parent"]
        needs = s["kind"].startswith("catalyst.") or (
            s["kind"] == "job" and parent not in by_id)
        if needs:
            inner = [h for h in holders
                     if h["start"] - SLACK_MS <= s["start"]
                     and s["end"] <= h["end"] + SLACK_MS]
            parent = min(inner, key=lambda h: h["end"] - h["start"],
                         default={"id": None})["id"]
        s["_parent"] = parent if parent in by_id else None
    for s in spans:  # the pass of a listener span is its ancestor's
        p, seen = s, 0
        while p["pass"] < 0 and p["_parent"] is not None and seen < 16:
            p, seen = by_id[p["_parent"]], seen + 1
        s["_pass"] = p["pass"]
    return by_id


PER_PASS_SUMS = {
    # stage attribute -> per-layer metric
    "tasks": "scheduler.tasks", "task_delay_ms": "scheduler.task_delay_ms",
    "run_ms": "executor.run_ms", "cpu_ms": "executor.cpu_ms",
    "gc_ms": "executor.gc_ms",
    "shuffle_write_bytes": "shuffle.write_bytes",
    "shuffle_write_rows": "shuffle.write_rows",
    "shuffle_read_bytes": "shuffle.read_bytes",
    "shuffle_fetch_wait_ms": "shuffle.fetch_wait_ms",
    "spill_bytes": "shuffle.spill_bytes",
    "input_bytes": "scan.input_bytes", "input_rows": "scan.input_rows",
}
CATALYST = {"catalyst.analysis": "catalyst.analysis_ms",
            "catalyst.optimization": "catalyst.optimizer_ms",
            "catalyst.planning": "catalyst.planning_ms"}


def layers_by_pass(record):
    """Per-layer metrics for each traced pass."""
    spans = [dict(s) for s in record["spans"]]
    by_id = _place(spans)
    kids = defaultdict(list)
    for s in spans:
        if s["_parent"] is not None:
            kids[s["_parent"]].append(s)
    nproc = record["nproc"]
    out = {}
    for p in record["passes"]:
        if not p["traced"]:
            continue
        n = p["pass"]
        mine = [s for s in spans if s["_pass"] == n]
        kind = defaultdict(list)
        for s in mine:
            kind[s["kind"]].append(s)
        m = defaultdict(float)
        for b in kind["operators.build"]:
            m["operators.build_ms"] += b["end"] - b["start"]
            m["operators.build_jobs"] += sum(
                1 for k in kids[b["id"]] if k["kind"] == "job")
            m["operators.self_ms"] += self_ms(b, kids[b["id"]])
        for a in kind["action"]:
            m["action.self_ms"] += self_ms(a, kids[a["id"]])
        for c, name in CATALYST.items():
            m[name] += sum(s["end"] - s["start"] for s in kind[c])
        m["catalyst.executions"] = len({s["id"].split(".")[0] for s in mine
                                        if s["kind"].startswith("catalyst.")})
        m["scheduler.jobs"] = len(kind["job"])
        m["scheduler.stages"] = len(kind["stage"])
        for j in kind["job"]:
            m["scheduler.self_ms"] += self_ms(j, kids[j["id"]])
        for st in kind["stage"]:
            m["executor.stage_ms"] += st["end"] - st["start"]
            for attr, name in PER_PASS_SUMS.items():
                m[name] += st["attrs"].get(attr, 0)
        key_ms = 0.0
        for k in kind["key"]:
            key_ms += k["end"] - k["start"]
            jobs = [j for h in kids[k["id"]] for j in kids[h["id"]]
                    if j["kind"] == "job"]
            m["scheduler.job_gap_ms"] += (k["end"] - k["start"]) - covered_ms(
                k["start"], k["end"], [(j["start"], j["end"]) for j in jobs])
        m["executor.slot_util"] = m["executor.run_ms"] / max(key_ms * nproc, 1e-9)
        samples = [s for s in record["samples"] if s["pass"] == n]
        out_rows = sum(s["rows"] for s in samples)
        m["scan.rows_per_output_row"] = m["scan.input_rows"] / max(out_rows, 1)
        builds = sum(s["memo_builds"] for s in samples)
        labels = {lab for s in samples for lab in s["memo_build_s"]}
        m["memo.builds"] = builds
        m["memo.build_s"] = sum(v for s in samples
                                for v in s["memo_build_s"].values())
        m["memo.builds_per_label"] = builds / len(labels) if labels else 0.0
        m["storage.mem_mb.pass_end"] = p["storage_mem_mb_pass_end"]
        m["storage.rdds.after_clear"] = p["storage_rdds_after_clear"]
        m["jvm.gc_ms"] = p["jvm_gc_ms"]
        m["jvm.heap_mb.peak"] = p["heap_peak_mb"]
        m["trace.orphan_jobs"] = sum(1 for j in kind["job"]
                                     if j["parent"] not in by_id)
        out[n] = dict(m)
    return out


def per_layer(record):
    """Median over traced passes of every per-layer metric, plus the
    tracing overhead: traced minus untraced median pass time, leaving
    out pass 0, which runs before the traced/untraced cycle."""
    per = layers_by_pass(record)
    names = sorted({k for m in per.values() for k in m})
    res = {k: median([m.get(k, 0.0) for m in per.values()]) for k in names}
    traced = [p["wall_s"] for p in record["passes"] if p["traced"]]
    plain = [p["wall_s"] for p in record["passes"]
             if not p["traced"] and p["pass"] > 0]
    res["trace.overhead_s"] = (median(traced) - median(plain)
                               if traced and plain else 0.0)
    labels = defaultdict(list)
    for s in record["samples"]:
        for lab, v in s["memo_build_s"].items():
            labels[lab].append(v)
    res["memo.build_s.by_label"] = {k: median(v) for k, v in labels.items()}
    return res


def summary(full):
    r, h = full["result"], full["host"]
    vals = " ".join(f"{k}={v['value']:.4g}{v['unit']}"
                    for k, v in r["metrics"].items())
    flags = h["busy_reasons"] + (
        [f"cpu steal {h['steal_share_run']:.0%} during the run"]
        if h["contended_run"] else [])
    return (f"[perfbench] {full['workload']} seed={full['seed']} "
            f"trace={full['trace']} passes={len(full['record']['passes'])} "
            f"failed={r['failed']}/{r['attempted']} {vals} "
            f"({'FLAGGED: ' + '; '.join(flags) if flags else 'host quiet'})")
