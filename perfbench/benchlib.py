"""Pure helpers of the benchmark runner: statistics, span self time,
host-noise records and the metric line. No I/O beyond what callers pass
in, so tests/test_benchlib.py covers them directly."""

import json
import math
import statistics

TAIL_MIN_BEYOND = 10


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def tail_percentile(n, min_beyond=TAIL_MIN_BEYOND):
    """The highest whole percentile p with at least `min_beyond` of `n`
    samples strictly above its nearest-rank position; None when n is too
    small for any percentile to have that many samples beyond it."""
    best = None
    for p in range(1, 100):
        rank = math.ceil(p / 100 * n)
        if n - rank >= min_beyond:
            best = p
    return best


def percentile(xs, p):
    """Nearest-rank percentile (p in 1..100)."""
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def tail(xs, p, min_beyond=TAIL_MIN_BEYOND):
    """`percentile(xs, p)`, provided the rule holds: at least
    `min_beyond` samples lie beyond it. Raises otherwise, so a tail is
    never reported from too few samples."""
    rank = max(1, math.ceil(p / 100 * len(xs)))
    if len(xs) - rank < min_beyond:
        raise ValueError(f"p{p} of {len(xs)} samples leaves {len(xs) - rank} "
                         f"beyond it; the tail needs {min_beyond}")
    return percentile(xs, p)


def self_times(spans):
    """Self time per layer. A span's self time is its duration minus the
    union of its direct children's intervals (clipped to the span), so
    overlapping children (parallel stages) are not subtracted twice. The
    layer is the first dot-separated part of the span name."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        ivs = sorted((max(lo, c["start"]), min(hi, c["end"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + max(0.0, (hi - lo) - covered)
    return out


def span_totals(spans, prefix):
    """Summed duration of spans whose name starts with `prefix`."""
    return sum(s["end"] - s["start"] for s in spans if s["name"].startswith(prefix))


def host_noise(stat0, stat1, load0, load1, own_cpu_s, hz=100.0):
    """Host-noise record from two /proc/stat 'cpu' lines (jiffies), the
    1-minute loadavg before and after, and this run's own child CPU."""
    d = [b - a for a, b in zip(stat0, stat1)]
    # cpu user nice system idle iowait irq softirq steal ...
    busy = (d[0] + d[1] + d[2] + d[5] + d[6]) / hz
    return {
        "steal_s": (d[7] if len(d) > 7 else 0) / hz,
        "iowait_s": d[4] / hz,
        "other_cpu_s": max(0.0, busy - own_cpu_s),
        "loadavg_start": load0,
        "loadavg_end": load1,
    }


def parse_stat(text):
    line = text.splitlines()[0].split()
    return [int(x) for x in line[1:]]


def metric_line(correct, attempted, failed, metrics, units):
    """The result line: exactly correct/attempted/failed/metrics, every
    value a plain JSON number (json.dumps never localizes)."""
    body = {}
    for name, value in metrics.items():
        if value is None or (isinstance(value, float) and not math.isfinite(value)):
            raise ValueError(f"metric {name} has no value")
        body[name] = {"value": value, "unit": units[name]}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": body}, sort_keys=False)


def parse_metric_line(line):
    d = json.loads(line)
    if set(d) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys {sorted(d)}")
    for name, m in d["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"bad metric {name}: {m}")
    return d


def _detail(checks, name):
    for c in checks:
        if c["name"] == name:
            return c["detail"]
    return None


def _kv(detail):
    return {k: int(v) for k, v in (p.split("=") for p in detail.split())}


def recorded_checks(workload, seed, record, expected):
    """Compare the JVM's raw results with the values recorded in
    perfbench/expected/<workload>.json. Returns [(name, ok, detail)]."""
    out = []
    if workload == "ops_churn":
        for c in record["checks"]:
            if not c["ok"] or not c["name"].startswith("query."):
                continue
            q = c["name"].split(".", 1)[1]
            want = expected.get("queries", {}).get(q)
            got = [int(x) for x in c["detail"].split()]
            out.append((f"recorded.{q}", want == got, f"got {got} recorded {want}"))
    elif workload == "etl_release":
        want = expected.get("digests", {}).get(str(seed))
        if want is not None:
            got = _kv(_detail(record["checks"], "digest"))
            out.append(("recorded.digest", got == want, f"got {got} recorded {want}"))
    return out


def jobs_under(spans, layer):
    """(spans of `layer` that have a spark.job below them, jobs below
    them): each job is counted once, under its nearest layer ancestor."""
    by_id = {s["id"]: s for s in spans}
    owners, jobs = set(), 0
    for s in spans:
        if not s["name"].startswith("spark.job."):
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["name"].startswith("spark."):
            p = by_id.get(p["parent"])
        if p is not None and p["name"].split(".", 1)[0] == layer:
            owners.add(p["id"])
            jobs += 1
    return len(owners), jobs


def evaluate(workload, seed, record, setup_s, noise, expected, layers, untraced_wall=None):
    """All metrics of one run, plus correctness and the attempted/failed
    counts. A run's passes are all untraced (--trace 0) or all traced
    (--trace 1). Per-layer values are per traced pass; metrics that do
    not apply to the workload read 0. `untraced_wall` is the untraced
    wall_s the tracing overhead is measured against."""
    passes = record["passes"]
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]] or traced
    kind = layers["primary_op"][workload]
    ops = [o for p in plain for o in p["ops"]]

    checks = [(c["name"], c["ok"], c["detail"]) for c in record["checks"]]
    checks += recorded_checks(workload, seed, record, expected)
    all_ops = [o for p in passes for o in p["ops"]]
    attempted = len(all_ops) + len(checks)
    failed = sum(not o["ok"] for o in all_ops) + sum(not ok for _, ok, _ in checks)

    m = {
        "setup_s": setup_s,
        "wall_s": median([p["wall_s"] for p in plain]),
        "cpu_s": median([p["cpu_s"] for p in plain]),
        # None (refused by metric_line) when VmHWM could not be read
        "peak_rss_mb": record["peak_rss_kb"] / 1024.0 or None,
    }

    # per-layer
    c_last = record["final_counters"]
    c_plain = plain[-1]["counters"]
    tr = record.get("trace") or {}
    n_tr = max(1, len(traced))
    spans = tr.get("spans", [])

    def sp(prefix):
        return span_totals(spans, prefix) / n_tr

    def cnt(c, k):
        return float(c.get(k, 0.0))

    for src in ("wormbase", "order_assocs"):
        m[f"sources.{src}.read_s"] = sp(f"sources.{src}.read")
        m[f"sources.{src}.rows_in"] = cnt(c_last, f"rows_in.{src}")
        m[f"engine.{src}.transform_s"] = sp(f"engine.{src}.transform")
        m[f"engine.{src}.triples_emitted"] = cnt(c_last, f"emitted.{src}")
    m["engine.dedup_s"] = sp("engine.dedup")
    dedup_in = sum(v for k, v in c_last.items() if k.startswith("dedup_in."))
    m["engine.dup_share"] = 1 - cnt(c_last, "triples") / dedup_in if dedup_in else 0.0
    for s in ("nt", "turtle", "test_subset"):
        m[f"sinks.{s}.write_s"] = sp(f"sinks.{s}.write")
    m["sinks.nt.bytes"] = cnt(c_last, "nt_bytes")
    m["sinks.turtle.bytes"] = cnt(c_last, "turtle_bytes")
    triples = cnt(c_plain, "triples")
    m["etl.triples_per_s"] = triples / (untraced_wall or m["wall_s"]) if triples else 0.0
    m["etl.bytes_per_triple"] = ((cnt(c_plain, "nt_bytes") + cnt(c_plain, "turtle_bytes"))
                                 / triples if triples else 0.0)

    for fam in "qrdst":
        m[f"queries.{fam}.s"] = sp(f"queries.{fam}.")
    sk = tr.get("spark", {})
    n_queries, query_jobs = jobs_under(spans, "queries")
    m["queries.planning_s"] = sk.get("planning_s", 0.0) / n_tr
    m["queries.jobs_per_query"] = query_jobs / n_queries if n_queries else 0.0
    m["spark.codegen_compile_s"] = sk.get("codegen_compile_s", 0.0) / n_tr
    q_all = [o["s"] for o in all_ops if o["kind"] == "query"]
    m["ops.query_samples"] = float(len(q_all))
    m["ops.query_p50_s"] = median(q_all) or 0.0
    p = tail_percentile(len(q_all))
    if p is not None and p < 50:
        p = None  # too few samples: the only admissible "tail" lies below the median
    m["ops.query_tail_s"] = tail(q_all, p) if p else 0.0
    m["ops.query_tail_pct"] = float(p or 0)
    m["ops.op_mean_s"] = statistics.mean([o["s"] for o in ops if o["kind"] == kind])

    for fam, acts in (("bm25", ("build", "append", "delete", "query", "compact")),
                      ("ivfadc", ("build", "append", "query"))):
        for a in acts:
            m[f"operators.{fam}.{a}_s"] = sp(f"operators.{fam}.{a}")
    m["operators.minhash.build_s"] = sp("operators.minhash.build")
    m["streaming.minhash_ingest_s"] = sp("streaming.minhash_ingest")
    for a in ("append", "delete", "compact"):
        xs = [o["s"] for o in ops if o["kind"] == a]
        m[f"index.{a}_p50_s" if a != "compact" else "index.compact_s"] = median(xs) or 0.0
    live = cnt(c_last, "live_rows")
    m["index.bytes_per_live_row"] = cnt(c_last, "index_bytes") / live if live else 0.0
    m["index.ann_recall_at_10"] = cnt(record["final_counters"], "ann_recall_at_10")
    m["index.write_amp"] = cnt(c_last, "write_amp")
    m["engine.bucketing.files"] = cnt(c_last, "bucket_files")
    m["engine.bucketing.files_compacted"] = cnt(c_last, "bucket_files_compacted")

    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = float(sk.get(k, 0)) / n_tr
    tw = tr.get("wall_s", 0.0)
    cores = record["settings"].get("cores", 1)
    m["spark.idle_core_share"] = (1 - sk.get("executor_run_s", 0.0) / (tw * cores)
                                  if tw else 0.0)
    st = self_times(spans)
    for layer in ("sources", "engine", "sinks", "queries", "operators", "streaming", "spark"):
        m[f"layer.{layer}.self_s"] = st.get(layer, 0.0) / n_tr
    m["trace.wall_s"] = median([p["wall_s"] for p in traced]) if traced else 0.0
    m["trace.overhead_s"] = (m["trace.wall_s"] - untraced_wall
                             if traced and untraced_wall else 0.0)
    m["error_rate"] = failed / attempted
    m["harness.gen_s"] = float(record["harness"].get("gen_s", 0.0))
    m["host.steal_s"] = noise["steal_s"]
    m["host.iowait_s"] = noise["iowait_s"]
    m["host.other_cpu_s"] = noise["other_cpu_s"]
    m["host.loadavg"] = noise["loadavg_end"]

    return {"metrics": m, "correct": failed == 0, "attempted": attempted, "failed": failed,
            "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks]}
