"""Reduce one run's raw records to the reported metrics.

End to end (untraced run), the same five on every workload. A workload's
operation is what its client waits for: a query (sql_reads), a statement up
to its commit (delta_dml), one curation operator run (curation_batch).

Per layer (traced run): PER_LAYER. A layer the workload leaves idle
reports 0, and so does a percentile the sample cannot support.
"""
import collections
import json
import os

import checks
import stats
from gen import load_json

CURATION_OPS = ["dd02_ngram_jaccard", "dd11_substring_dedup", "pp07_corpus_build",
                "ss10_ivf_pq", "tx09_bigram_lm"]
DML_KINDS = ["append", "update", "delete", "merge"]
PRIMARY = {"sql_reads": {"read"}, "delta_dml": set(DML_KINDS),
           "curation_batch": set(CURATION_OPS)}
# the layer an operation's own (non-planning, non-job) time belongs to
OP_LAYER = {"sql_reads": "delta.read", "delta_dml": "delta.write",
            "curation_batch": "curation"}
PHASES = {"parsing": "parse_ms", "analysis": "analysis_ms",
          "optimization": "optimization_ms", "planning": "planning_ms"}
MB = 1e6

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s",
              "cpu_ms_per_op": "ms", "heap_after_gc_mb": "MB"}

PER_LAYER = dict(
    # planning
    parse_ms="ms", analysis_ms="ms", optimization_ms="ms", planning_ms="ms",
    # execution
    driver_only_ms="ms", jobs_per_op="count", stages_per_op="count",
    tasks_per_op="count", task_s_per_op="s", gc_s_per_op="s",
    shuffle_read_mb_per_op="MB", shuffle_write_mb_per_op="MB", spill_mb_per_op="MB",
    slot_busy_frac="frac",
    # delta.read
    snap_builds_per_op="count", snap_extends_per_op="count", snap_memo_hit_frac="frac",
    scan_files_read_frac="frac", scan_mb_read_per_op="MB",
    # delta.write
    append_ms="ms", update_ms="ms", delete_ms="ms", merge_ms="ms",
    checkpoint_commit_ms="ms", files_rewritten_per_commit="count",
    log_bytes_per_commit="B", write_bytes_per_row="B/row",
    # curation
    **{f"{k}.{op.split('_')[0]}": u for op in CURATION_OPS
       for k, u in (("op_ms", "ms"), ("task_s", "s"), ("shuffle_mb", "MB"))},
    cached_mb_peak="MB",
    # self time per layer, per operation
    **{f"self_ms.{layer}": "ms"
       for layer in ("planning", "execution", "delta.read", "delta.write", "curation")},
    # the workload's own figures and the trace's cost
    read_p50_ms="ms", read_p90_ms="ms", reads_per_s="1/s", commit_p50_ms="ms",
    docs_per_s="1/s", trace_overhead_frac="frac", samples="count",
)


def _med(xs):
    return stats.median(xs) if xs else 0.0


def end_to_end(workload, eng):
    timed = [o for o in eng["ops"] if o["phase"] == "timed" and o["kind"] in PRIMARY[workload]]
    n = len(timed)
    return {
        "setup_s": eng["session_s"] + stats.median(eng["setup_reps_s"]),
        "op_p50_ms": stats.median([o["dur_ms"] for o in timed]),
        "ops_per_s": n / eng["loop_s"],
        "cpu_ms_per_op": eng["cpu_ns"] / 1e6 / n,
        "heap_after_gc_mb": eng["heap_after_gc_bytes"] / MB,
    }


def _spans(out):
    by_op = collections.defaultdict(list)
    p = os.path.join(out, "spans.jsonl")
    if os.path.exists(p):
        for line in open(p):
            s = json.loads(line)
            by_op[s["op"]].append(s)
    return by_op


def overhead(ops, group):
    """Tracing overhead: per group of like operations, traced median over
    untraced median; the median of those ratios, minus 1."""
    by = collections.defaultdict(lambda: ([], []))
    for o in ops:
        by[group(o)][0 if o["traced"] else 1].append(o["dur_ms"])
    ratios = [_med(on) / _med(off) for on, off in by.values() if on and off]
    return _med(ratios) - 1 if ratios else 0.0


def pass_ms(ops):
    """Wall time of one curation pass, composed from each operator's median
    untraced run: a run need not end on a pass boundary."""
    meds = [_med([o["dur_ms"] for o in ops if o["kind"] == n and not o["traced"]])
            for n in CURATION_OPS]
    return sum(meds) if all(meds) else 0.0


def per_layer(workload, eng, out, ndocs, live_files, group):
    timed = [o for o in eng["ops"] if o["phase"] == "timed"]
    traced = [o for o in timed if o["traced"]]
    plain = [o for o in timed if not o["traced"]]
    nt = max(1, len(traced))
    spans = _spans(out)
    aggs = eng.get("op_aggs", {})
    m = {}

    def opspan(o):
        return (o["t0"], o["t0"] + o["dur_ms"])

    def intervals(o, layer):
        return [(s["start_ms"], s["end_ms"]) for s in spans[o["id"]] if s["layer"] == layer]

    # planning: planner phase time per operation
    for phase, name in PHASES.items():
        m[name] = sum(s["end_ms"] - s["start_ms"] for o in traced for s in spans[o["id"]]
                      if s["layer"] == "planning" and s["name"] == phase) / nt

    # execution
    m["driver_only_ms"] = _med([stats.driver_only(opspan(o), intervals(o, "execution"))
                                for o in traced])
    tot = collections.Counter()
    for o in traced:
        for k, v in aggs.get(o["id"], {}).items():
            if k != "scans":
                tot[k] += v
    m["jobs_per_op"] = tot["jobs"] / nt
    m["stages_per_op"] = tot["stages"] / nt
    m["tasks_per_op"] = tot["tasks"] / nt
    m["task_s_per_op"] = tot["run_ms"] / 1000 / nt
    m["gc_s_per_op"] = tot["gc_ms"] / 1000 / nt
    m["shuffle_read_mb_per_op"] = tot["shuffle_read"] / MB / nt
    m["shuffle_write_mb_per_op"] = tot["shuffle_write"] / MB / nt
    m["spill_mb_per_op"] = tot["spill"] / MB / nt
    wall = sum(o["dur_ms"] for o in traced)
    m["slot_busy_frac"] = tot["busy_ms"] / (wall * eng["cores"]) if wall else 0.0

    # delta.read: the driver snapshot memo and file skipping
    c = eng["counters"]
    n_all = max(1, len(timed))
    looked = c["snap_builds"] + c["snap_extends"]
    m["snap_builds_per_op"] = c["snap_builds"] / n_all
    m["snap_extends_per_op"] = c["snap_extends"] / n_all
    m["snap_memo_hit_frac"] = c["snap_extends"] / looked if looked else 0.0
    files_read = files_live = scan_bytes = 0
    for o in traced:
        for s in aggs.get(o["id"], {}).get("scans", []):
            live = live_files(o["id"], s["table"])
            if live:
                files_read += s["files"]
                files_live += live
                scan_bytes += s["bytes"]
    m["scan_files_read_frac"] = files_read / files_live if files_live else 0.0
    m["scan_mb_read_per_op"] = scan_bytes / MB / nt

    # delta.write: statement latency by kind, checkpoints, rewrite volume
    for k in DML_KINDS:
        m[f"{k}_ms"] = _med([o["dur_ms"] for o in timed if o["kind"] == k])
    dml = eng.get("dml_statements", [])
    cp_ids = {e["id"] for e in dml if e["checkpoint"]}
    m["checkpoint_commit_ms"] = _med([o["dur_ms"] for o in timed if o["id"] in cp_ids])
    m["files_rewritten_per_commit"] = sum(e["removes"] for e in dml) / len(dml) if dml else 0.0
    m["log_bytes_per_commit"] = sum(e["log_bytes"] for e in dml) / len(dml) if dml else 0.0
    m["write_bytes_per_row"] = eng.get("write_bytes_per_row", 0.0)

    # curation: per-operator time, task time and shuffle volume
    for name in CURATION_OPS:
        short = name.split("_")[0]
        runs = [o for o in timed if o["kind"] == name]
        tr = [aggs.get(o["id"], {}) for o in runs if o["traced"]]
        m[f"op_ms.{short}"] = _med([o["dur_ms"] for o in runs])
        m[f"task_s.{short}"] = sum(a.get("run_ms", 0) for a in tr) / 1000 / len(tr) if tr else 0.0
        m[f"shuffle_mb.{short}"] = sum(a.get("shuffle_read", 0) + a.get("shuffle_write", 0)
                                       for a in tr) / MB / len(tr) if tr else 0.0
    m["cached_mb_peak"] = eng["cached_bytes_peak"] / MB

    # self time per layer, per traced operation
    selves = collections.Counter()
    for o in traced:
        st = stats.layer_self_times(opspan(o), intervals(o, "planning"), intervals(o, "execution"))
        selves["planning"] += st["planning"]
        selves["execution"] += st["execution"]
        selves[OP_LAYER[workload]] += st["op"]
    for layer in ("planning", "execution", "delta.read", "delta.write", "curation"):
        m[f"self_ms.{layer}"] = selves[layer] / nt

    # the workload's own figures, from the untraced half of the run
    reads = [o["dur_ms"] for o in plain if o["kind"] in ("read", "readback")]
    m["read_p50_ms"] = _med(reads)
    m["read_p90_ms"] = stats.tail(reads, 0.9) or 0.0
    m["reads_per_s"] = len([o for o in timed if o["kind"] in ("read", "readback")]) / eng["loop_s"]
    m["commit_p50_ms"] = _med([o["dur_ms"] for o in plain if o["kind"] in DML_KINDS])
    p = pass_ms(timed)
    m["docs_per_s"] = ndocs / (p / 1000) if p else 0.0
    primary = [o for o in timed if o["kind"] in PRIMARY[workload]]
    m["trace_overhead_frac"] = overhead(primary, group)
    m["samples"] = len(primary)
    return m


def reduce(workload, inputs, out, eng, traced):
    ops = eng["ops"]
    group = (lambda o: o["kind"])  # noqa: E731
    if workload == "sql_reads":
        attempted, failed, _ = checks.check_reads(inputs, out, ops)
        files = load_json(os.path.join(out, "reads_out.json"))["table_files"]
        live_files = lambda op, table: files.get(table, 0)  # noqa: E731
        template = {r["id"]: r["template"] for r in load_json(os.path.join(inputs, "reads.json"))}
        group = lambda o: template[o["id"].split("-")[0]]  # noqa: E731
    elif workload == "delta_dml":
        attempted, failed, changed, per_op = checks.check_dml(inputs, out, ops)
        res = load_json(os.path.join(out, "dml_out.json"))
        timed_ids = {o["id"] for o in ops if o["phase"] == "timed"}
        eng["dml_statements"] = [e for e in res["statements"] if e["id"] in timed_ids]
        rows = sum(changed[i] for i in timed_ids if i in changed)
        eng["write_bytes_per_row"] = (eng["table_bytes1"] - eng["table_bytes0"]) / max(1, rows)
        live_files = lambda op, table: per_op.get(op, 0)  # noqa: E731
    else:
        attempted, failed, _ = checks.check_curation(inputs, out, ops)
        live_files = lambda op, table: 0  # noqa: E731
    if traced:
        ndocs = checks.corpus_docs(inputs) if workload == "curation_batch" else 0
        vals = per_layer(workload, eng, out, ndocs, live_files, group)
        metrics = {k: {"value": vals[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        vals = end_to_end(workload, eng)
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
