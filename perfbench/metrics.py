"""Metrics of one run, from the raw measurements of perfbench.Main.

End-to-end metrics (trace 0) are what BENCHMARK.json gates; every
workload reports each of them, with the workload's own meaning:

  setup_s                    session start + set-up (pipeline_batch: median
                             of three set-ups; lake_search sets up once)
  throughput_per_s           lake_search: searches/s; pipeline_batch: input
                             docs per second of one full operator pass
  op_p50_ms / op_tail_ms     lake_search: median and tail search latency, the
                             tail being the highest percentile with at least
                             ten samples beyond it, capped at p95;
                             pipeline_batch: geometric mean of the step times,
                             and the slowest step (README.md)
  driver_heap_mb             retained driver heap after a forced GC at the end
  index_bytes_per_data_byte  index bytes written per byte of lake data

The workload-specific metrics (search_qps, ranked_p50_ms, ...) are printed
too, for the workloads they apply to. Per-layer metrics (trace 1) come
from spans: see layers().
"""
import json
import math
import os
import statistics
from collections import defaultdict

SEARCH_CLASSES = ("ranked", "filter")

E2E = [("setup_s", "s"), ("throughput_per_s", "1/s"), ("op_p50_ms", "ms"),
       ("op_tail_ms", "ms"), ("driver_heap_mb", "MB"),
       ("index_bytes_per_data_byte", "ratio")]


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def pct(xs, p):
    """Nearest-rank percentile (p = 100 is the maximum)."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)] if s else float("nan")


def tail_pct(n):
    """Highest percentile with at least ten samples beyond it, <= 95."""
    if n <= 10:
        return 0
    return min(95, math.floor(100 * (n - 10) / n))


def p50(xs):
    return statistics.median(xs) if xs else float("nan")


def compute(workload, out, checked, traced):
    ops = read_jsonl(os.path.join(out, "ops.jsonl"))
    with open(os.path.join(out, "summary.json")) as f:
        s = json.load(f)
    failed_ops = [o for o in ops if not checked.get(o["op"], (False,))[0]]
    timed = [o for o in ops if o["phase"] == "timed"]
    # end-to-end numbers come from untraced operations only
    plain = [o for o in timed if o["traced"] == 0] if traced else timed
    searches = [o["ms"] for o in plain if o["cls"] in SEARCH_CLASSES]
    detail = {}
    if workload == "pipeline_batch":
        by_step = defaultdict(list)
        for o in plain:
            by_step[o["name"]].append(o["ms"])
        step_ms = {k: p50(v) for k, v in by_step.items()}
        through = s["input_docs"] / (sum(step_ms.values()) / 1000)
        # one sample per step: its median over the passes
        lat = list(step_ms.values())
        # the median of seven heterogeneous step times jumps from one
        # step to another; the geometric mean moves with every step
        typical = math.exp(statistics.fmean(math.log(x) for x in lat))
        detail["pipeline_docs_per_s"] = (through, "docs/s")
        detail["input_docs"] = (s["input_docs"], "docs")
        for k, v in sorted(by_step.items()):
            detail[f"step_ms.{k}"] = (p50(v), "ms")
    else:
        lat = searches
        typical = p50(lat)
        through = len(searches) / s["window_s"]
        detail["search_qps"] = (through, "1/s")
        detail["ranked_p50_ms"] = (p50([o["ms"] for o in plain
                                        if o["cls"] == "ranked"]), "ms")
        detail["filter_p50_ms"] = (p50([o["ms"] for o in plain
                                        if o["cls"] == "filter"]), "ms")
    # pipeline_batch has seven steps, too few for a percentile: its tail
    # is the slowest step
    tp = 100 if workload == "pipeline_batch" else tail_pct(len(lat))
    index_bytes = sum(v for k, v in s.items() if k.startswith("index_bytes."))
    m = {
        "setup_s": s["session_s"] + s["setup_once_s"],
        "throughput_per_s": through,
        "op_p50_ms": typical,
        "op_tail_ms": pct(lat, tp),
        "driver_heap_mb": s["driver_heap_mb"],
        "index_bytes_per_data_byte": index_bytes / s["data_bytes"],
    }
    detail["search_samples" if workload != "pipeline_batch"
           else "step_samples"] = (len(lat), "count")
    detail["tail_percentile"] = (tp, "pct")
    detail["failed_ratio"] = (len(failed_ops) / max(1, len(ops)), "ratio")
    detail["warmup_passes"] = (s.get("warmup_passes", 0), "count")
    detail["timed_passes"] = (s["passes"], "count")
    res = {
        "correct": not failed_ops,
        "attempted": len(ops),
        "failed": len(failed_ops),
        "failures": [checked[o["op"]][1] for o in failed_ops][:20],
        "detail": {k: {"value": v, "unit": u} for k, (v, u) in detail.items()},
        "summary": s,
    }
    if traced:
        res["metrics"], res["layers"], res["counters"] = layers(
            workload, out, ops, s)
    else:
        res["metrics"] = {k: {"value": m[k], "unit": u} for k, u in E2E}
    return res


# Per-layer metrics every workload reports in a traced run (BENCHMARK.json
# per_layer). Spark counters are per operation, over the traced operations
# (lake_search: two panel slices; pipeline_batch: every step once), so
# they repeat exactly across two runs of one seed.
PER_LAYER = [
    ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.metadata_jobs_per_op", "count"),
    ("spark.input_bytes_per_op", "bytes"),
    ("spark.shuffle_read_bytes_per_op", "bytes"),
    ("spark.shuffle_write_bytes_per_op", "bytes"),
    ("spark.spill_bytes_per_op", "bytes"),
    ("spark.exec_run_ms_per_op", "ms"), ("spark.exec_cpu_ms_per_op", "ms"),
    ("spark.driver_gap_ms_per_op", "ms"), ("spark.busy_ratio", "ratio"),
    ("index.rows_read_per_result", "ratio"),
    ("text.tokenize_ns_per_row", "ns"),
    ("functions.ns_per_row.sign_pack", "ns"),
    ("functions.ns_per_row.hamming_dist", "ns"),
    ("functions.ns_per_row.lsh_sig_pack", "ns"),
    ("functions.ns_per_row.nb_score_pack", "ns"),
    ("functions.ns_per_row.cosine_sim", "ns"),
    ("trace.overhead_pct", "%"),
]
COUNTERS = ("jobs", "stages", "tasks", "metadata_jobs", "input_bytes",
            "input_records", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "exec_run_ms", "exec_cpu_ns", "job_ms")
CORES = 4


def layers(workload, out, ops, s):
    """Per-layer metrics of a traced run: the PER_LAYER set, every
    layer's self time and the workload's own layer metrics, and the
    deterministic per-operation counters."""
    spans = [x for x in read_jsonl(os.path.join(out, "spans.jsonl"))
             if "name" in x]
    batches = [x for x in read_jsonl(os.path.join(out, "spans.jsonl"))
               if "stream_batch" in x]
    kids = defaultdict(list)
    for x in spans:
        kids[x["parent"]].append(x)
    by_name = defaultdict(list)
    for x in spans:
        by_name[x["name"]].append(x)

    def tree(x):
        yield x
        for k in kids[x["id"]]:
            yield from tree(k)

    def ms(name):
        return [x["ms"] for x in by_name.get(name, [])]

    # self time: a span's duration minus what its children cover
    self_ms = defaultdict(float)
    for x in spans:
        layer = x["name"].split(".")[0]
        self_ms[layer] += x["ms"] - sum(k["ms"] for k in kids[x["id"]])

    timed = [o for o in ops if o["phase"] == "timed"]
    # the deterministic op set: every traced operation (each query slot or
    # step is traced once)
    traced = [o for o in timed if o["traced"] == 1]
    plain = [o for o in timed if o["traced"] == 0]
    traced_ids = {str(o["op"]) for o in traced}
    roots = defaultdict(list)
    for x in spans:
        if x["parent"] == -1 and str(x["op"]) in traced_ids:
            roots[str(x["op"])].append(x)
    counters = {}
    for o in traced:
        c = {k: 0 for k in COUNTERS}
        wall = 0.0
        for r in roots.get(str(o["op"]), []):
            wall += r["ms"]
            for x in tree(r):
                for k in COUNTERS:
                    c[k] += x[k]
        key = (f"{o['slot']}:{o['name']}" if workload == "lake_search"
               else o["name"])
        c["wall_ms"] = wall
        c["rows"] = o.get("n", 0)
        counters[key] = c
    n = max(1, len(counters))

    def per_op(k):
        return sum(c[k] for c in counters.values()) / n

    wall = sum(c["wall_ms"] for c in counters.values())
    rows = sum(c["rows"] for c in counters.values())
    m = {
        "spark.jobs_per_op": per_op("jobs"),
        "spark.stages_per_op": per_op("stages"),
        "spark.tasks_per_op": per_op("tasks"),
        "spark.metadata_jobs_per_op": per_op("metadata_jobs"),
        "spark.input_bytes_per_op": per_op("input_bytes"),
        "spark.shuffle_read_bytes_per_op": per_op("shuffle_read_bytes"),
        "spark.shuffle_write_bytes_per_op": per_op("shuffle_write_bytes"),
        "spark.spill_bytes_per_op": per_op("spill_bytes"),
        "spark.exec_run_ms_per_op": per_op("exec_run_ms"),
        "spark.exec_cpu_ms_per_op": per_op("exec_cpu_ns") / 1e6,
        # wall time of the operation outside any Spark job of its own
        "spark.driver_gap_ms_per_op": max(
            0.0, (wall - sum(c["job_ms"] for c in counters.values())) / n),
        "spark.busy_ratio": (sum(c["exec_run_ms"] for c in counters.values())
                             / (wall * CORES) if wall else 0.0),
        "index.rows_read_per_result": (sum(c["input_records"] for c in
                                           counters.values()) / max(1, rows)),
        "text.tokenize_ns_per_row": ns_per_row(by_name, s, "text.tokenize"),
    }
    for k in ("sign_pack", "hamming_dist", "lsh_sig_pack", "nb_score_pack",
              "cosine_sim"):
        m[f"functions.ns_per_row.{k}"] = ns_per_row(by_name, s,
                                                    f"functions.{k}")
    # overhead over the same queries or steps: each ran once traced and
    # once untraced, in balanced order (see Workloads.scala, Pipeline.scala)
    def same_op(o):
        return o.get("slot", o["name"])
    base_ms = {same_op(o): o["ms"] for o in plain}
    pairs = [(o["ms"], base_ms[same_op(o)]) for o in traced
             if same_op(o) in base_ms]
    t, base = sum(x for x, _ in pairs), sum(y for _, y in pairs)
    m["trace.overhead_pct"] = 100 * (t / base - 1) if base else float("nan")
    metrics_ = {k: {"value": m[k], "unit": u} for k, u in PER_LAYER}

    detail = {f"self_s.{k}": v / 1000 for k, v in sorted(self_ms.items())}
    named = {
        "api.index_s": sum(ms("api.index.bm25") + ms("api.index.ngram") +
                           ms("api.index.fuzzy") + ms("api.index.key")) / 1000,
        "api.compact_s": sum(ms("api.compact.bm25") +
                             ms("api.compact.ngram")) / 1000,
        "api.vacuum_s": sum(ms("api.vacuum")) / 1000,
        "core.split_s": sum(ms("core.split")) / 1000,
        "core.layout_scan_ms": p50(ms("core.layout_scan")),
        "core.metadata_read_ms": p50(ms("core.metadata_read")),
        "plans.plan_ms": p50(ms("plans.plan")),
        "plans.exec_ms": p50(ms("plans.exec")),
    }
    for k, v in s.items():
        if k.startswith("covering_indexes."):
            named[f"api.{k}"] = v
        if k.startswith("index_bytes."):
            named[f"index.bytes.{k.split('.', 1)[1]}"] = v
    for name in sorted(by_name):
        parts = name.split(".")
        if parts[0] == "index" and parts[1] in ("probe", "serve"):
            named[f"index.{parts[1]}_ms.{parts[2]}"] = p50(ms(name))
        elif parts[0] == "index" and parts[1] in ("build", "merge"):
            named[f"index.{parts[1]}_s.{parts[2]}"] = sum(ms(name)) / 1000
        elif parts[0] == "plans" and parts[1].startswith("sql_"):
            named[f"plans.{parts[1]}_ms"] = p50(ms(name))
        elif parts[0] == "ops":
            named[f"ops.step_s.{parts[2]}"] = sum(ms(name)) / 1000
    facade = [x["ms"] for x in spans if x["name"].startswith("api.search.")
              or x["name"] == "api.smart_search"]
    direct = [x["ms"] for x in spans if x["name"].startswith("index.probe.")]
    if facade and direct:
        named["api.route_overhead_ms"] = p50(facade) - p50(direct)
    for b in batches:
        # query names may end in "__<input path>": keep the stable part
        key = f"streaming.batch_s.{b['stream_batch'].split('__')[0]}"
        named[key] = named.get(key, 0.0) + b["ms"] / 1000
    # counters per op class: what moves the search p50s and the pipeline
    by_cls = defaultdict(lambda: defaultdict(float))
    for key, c in counters.items():
        cls = key.split(":")[-1]
        for k in ("jobs", "tasks", "metadata_jobs", "exec_cpu_ns",
                  "shuffle_read_bytes", "shuffle_write_bytes"):
            by_cls[cls][k] += c[k]
    for cls, c in sorted(by_cls.items()):
        for k, v in c.items():
            named[f"spark.{k}.{cls}"] = v
    detail.update(named)
    return metrics_, detail, counters


def ns_per_row(by_name, s, name):
    xs = by_name.get(name, [])
    rows = s.get(f"{name}.rows", 0)
    return xs[0]["ms"] * 1e6 / rows if xs and rows else float("nan")


def report(res, f):
    """Human-readable lines: every metric with its unit."""
    w = res["workload"]
    print(f"== {w} seed={res['seed']} trace={res['trace']} "
          f"attempted={res['attempted']} failed={res['failed']}", file=f)
    for k, v in res["metrics"].items():
        print(f"  {k:<40} {v['value']:>16.4f} {v['unit']}", file=f)
    for k, v in res["detail"].items():
        print(f"  ({k:<38} {v['value']:>16.4f} {v['unit']})", file=f)
    for k, v in res.get("layers", {}).items():
        print(f"  [{k:<38} {v:>16.4f}]", file=f)
    if "wall_s" in res:
        print("  (wall: " + ", ".join(f"{k} {v:.1f} s" for k, v in
                                      res["wall_s"].items()) + ")", file=f)
    for msg in res["failures"]:
        print(f"  FAILED {msg}", file=f)
