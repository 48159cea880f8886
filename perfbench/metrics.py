"""Metric definitions and their computation.

End-to-end metrics apply to every workload (a request is one ingest
batch or one query); per-layer metrics come from the traced run and
read 0 on workloads that never enter the layer.
"""

from __future__ import annotations

import statistics

from perfbench.trace import children, self_time, union_length

#: name -> (unit, better, bound); bound = share of the parent's median by
#: which the metric may worsen before a change counts as a regression
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "latency_p50_s": ("s", "lower", 0.25),
    "ops_per_s": ("1/s", "higher", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.1),
}

LLM_QUERIES = ("doc_exact_dedup", "doc_near_dups", "emb_near_dups_lsh", "emb_knn", "emb_ann_ivf")

#: name -> (unit, better)
PER_LAYER = {
    "session.jvm_boot_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "sources.validate.s": ("s", "lower"),
    "sources.validate.files": ("count", "higher"),
    "sources.validate.spark_jobs": ("count", "lower"),
    "sources.scanstage.s": ("s", "lower"),
    "sources.scanstage.staged_files": ("count", "higher"),
    "runner.self_s": ("s", "lower"),
    "runner.spark_jobs_per_batch": ("count", "lower"),
    "runner.files_per_s": ("1/s", "higher"),
    "operators.clean_dedup.s": ("s", "lower"),
    "operators.dedup.rows_in": ("count", "higher"),
    "operators.dedup.rows_out": ("count", "higher"),
    "operators.dedup.keep_ratio": ("ratio", "higher"),
    "operators.dedup.shuffle_mb": ("MB", "lower"),
    "sinks.upsert.s": ("s", "lower"),
    "sinks.upsert.bytes_written": ("bytes", "lower"),
    "sinks.upsert.write_amp": ("ratio", "lower"),
    "sinks.upsert.rows_rewritten_per_row_upserted": ("ratio", "lower"),
    "sinks.upsert.stored_bytes_per_input_byte": ("ratio", "lower"),
    "sinks.objects.s": ("s", "lower"),
    "sinks.objects.moves": ("count", "lower"),
    "sinks.audit.s": ("s", "lower"),
    "sinks.audit.writes": ("count", "lower"),
    "catalog.load_table.s": ("s", "lower"),
    "catalog.load_table.calls": ("count", "lower"),
    "catalog.parquet_reads": ("count", "lower"),
    "catalog.cache_hit_ratio": ("ratio", "higher"),
    "plans.kpi.build_s": ("s", "lower"),
    "plans.kpi.exec_s": ("s", "lower"),
    "plans.kpi.tasks": ("count", "lower"),
    "plans.kpi.shuffle_mb": ("MB", "lower"),
    "plans.llm.build_s": ("s", "lower"),
    "plans.llm.exec_s": ("s", "lower"),
    "plans.llm.tasks": ("count", "lower"),
    "plans.llm.shuffle_mb": ("MB", "lower"),
    "plans.llm.output_rows": ("count", "higher"),
    **{f"plans.llm.{q}.exec_s": ("s", "lower") for q in LLM_QUERIES},
    **{f"plans.llm.{q}.output_rows": ("count", "higher") for q in LLM_QUERIES},
    "spark.executor_busy_ratio": ("ratio", "higher"),
    "spark.gc_s": ("s", "lower"),
    "spark.tasks": ("count", "lower"),
    "trace.latency_p50_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
    "failed_ops_ratio": ("ratio", "lower"),
}

_MB = float(1 << 20)


def busy_seconds(reqs, concurrent: bool) -> float:
    """Seconds the system was serving requests: the sum of latencies for
    a single client, the window from first start to last completion for
    concurrent clients."""
    if not concurrent:
        return sum(r.lat for r in reqs)
    return max(r.start + r.lat for r in reqs) - min(r.start for r in reqs)


def end_to_end(reqs, setup_s, peak_rss_mb, concurrent: bool) -> dict:
    busy = busy_seconds(reqs, concurrent)
    return {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(r.lat for r in reqs),
        "ops_per_s": len(reqs) / busy,
        "peak_rss_mb": peak_rss_mb,
    }


def _mean(total: float, n: int) -> float:
    return total / n if n else 0.0


def per_layer(reqs, spans, ev, window, cores, start_times, final, failed_ratio) -> dict:
    m = {name: 0.0 for name in PER_LAYER}
    m["session.jvm_boot_s"] = start_times[0]
    m["session.start_s"] = statistics.median(start_times[1:] or start_times)
    m["failed_ops_ratio"] = failed_ratio
    kids = children(spans)
    by_id = {s.id: s for s in spans}

    def subtree(sid: int) -> list:
        out, todo = [], [by_id[sid]]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += kids.get(s.id, [])
        return out

    traced = [r for r in reqs if r.traced and r.span in by_id]

    # ---- ingest batches
    batches = [r for r in traced if r.kind == "batch"]
    nb = len(batches)
    if nb:
        acc = dict.fromkeys(
            ("val_s", "val_files", "val_jobs", "stage_s", "staged", "self_s", "jobs", "cd_s",
             "up_s", "shuffle", "out_b", "out_rec", "obj_s", "moves", "aud_s", "writes"), 0.0
        )
        for r in batches:
            tree = subtree(r.span)
            acc["self_s"] += self_time(by_id[r.span], kids)
            acc["jobs"] += sum(ev.work(s.id).jobs for s in tree)
            for s in tree:
                w = ev.work(s.id)
                if s.name == "sources.validate":
                    acc["val_s"] += s.dur
                    acc["val_files"] += s.attrs.get("files", 0)
                    acc["val_jobs"] += w.jobs
                elif s.name == "sources.scanstage":
                    acc["stage_s"] += s.dur
                    acc["staged"] += s.attrs.get("staged", 0)
                elif s.name == "sinks.upsert":
                    cd = union_length(w.other_jobs)
                    acc["cd_s"] += cd
                    acc["up_s"] += s.dur - cd
                    acc["shuffle"] += w.shuffle_bytes_nowrite
                    acc["out_b"] += w.output_bytes
                    acc["out_rec"] += w.output_records
                elif s.name == "sinks.objects":
                    acc["obj_s"] += s.dur
                    acc["moves"] += 1
                elif s.name == "sinks.audit":
                    acc["aud_s"] += s.dur
                    acc["writes"] += 1
        rows_in = sum(r.info["rows_in"] for r in batches)
        rows_out = sum(r.info["rows_out"] for r in batches)
        all_batches = [r for r in reqs if r.kind == "batch"]
        m.update({
            "sources.validate.s": acc["val_s"] / nb,
            "sources.validate.files": acc["val_files"] / nb,
            "sources.validate.spark_jobs": acc["val_jobs"] / nb,
            "sources.scanstage.s": acc["stage_s"] / nb,
            "sources.scanstage.staged_files": acc["staged"] / nb,
            "runner.self_s": acc["self_s"] / nb,
            "runner.spark_jobs_per_batch": acc["jobs"] / nb,
            "runner.files_per_s": sum(r.info["files"] for r in all_batches)
            / sum(r.lat for r in all_batches),
            "operators.clean_dedup.s": acc["cd_s"] / nb,
            "operators.dedup.rows_in": rows_in / nb,
            "operators.dedup.rows_out": rows_out / nb,
            "operators.dedup.keep_ratio": _mean(rows_out, rows_in),
            "operators.dedup.shuffle_mb": acc["shuffle"] / _MB / nb,
            "sinks.upsert.s": acc["up_s"] / nb,
            "sinks.upsert.bytes_written": acc["out_b"] / nb,
            "sinks.upsert.write_amp": _mean(
                acc["out_b"], sum(r.info["survivor_csv_bytes"] for r in batches)
            ),
            "sinks.upsert.rows_rewritten_per_row_upserted": _mean(acc["out_rec"], rows_out),
            "sinks.upsert.stored_bytes_per_input_byte": final.get(
                "stored_bytes_per_input_byte", 0.0
            ),
            "sinks.objects.s": acc["obj_s"] / nb,
            "sinks.objects.moves": acc["moves"] / nb,
            "sinks.audit.s": acc["aud_s"] / nb,
            "sinks.audit.writes": acc["writes"] / nb,
        })

    # ---- queries
    queries = [r for r in traced if r.kind != "batch"]
    if queries:
        loads = [s for r in queries for s in subtree(r.span) if s.name == "catalog.load_table"]
        seen, reads = set(final.get("catalog_held", ())), 0
        for s in sorted(loads, key=lambda s: s.start):
            key = (s.attrs.get("table"), s.attrs.get("obj"))
            reads += key not in seen
            seen.add(key)
        nq = len(queries)
        m.update({
            "catalog.load_table.s": sum(s.dur for s in loads) / nq,
            "catalog.load_table.calls": len(loads) / nq,
            "catalog.parquet_reads": reads / nq,
            "catalog.cache_hit_ratio": _mean(len(loads) - reads, len(loads)),
        })
        for layer in ("kpi", "llm"):
            mine = [r for r in queries if by_id[r.span].name == f"plans.{layer}.request"]
            if not mine:
                continue
            n = len(mine)
            build = exe = tasks = shuffle = 0.0
            per_q: dict[str, list] = {}
            for r in mine:
                tree = subtree(r.span)
                for s in tree:
                    if s.name == f"plans.{layer}.build":
                        build += self_time(s, kids)  # catalog.load_table excluded
                    elif s.name == f"plans.{layer}.exec":
                        exe += s.dur
                        per_q.setdefault(r.kind, []).append((s.dur, r.info["rows"]))
                    tasks += ev.work(s.id).tasks
                    shuffle += ev.work(s.id).shuffle_bytes
            m.update({
                f"plans.{layer}.build_s": build / n,
                f"plans.{layer}.exec_s": exe / n,
                f"plans.{layer}.tasks": tasks / n,
                f"plans.{layer}.shuffle_mb": shuffle / _MB / n,
            })
            if layer == "llm":
                m["plans.llm.output_rows"] = sum(r.info["rows"] for r in mine) / n
                for q, vals in per_q.items():
                    m[f"plans.llm.{q}.exec_s"] = statistics.median(v[0] for v in vals)
                    m[f"plans.llm.{q}.output_rows"] = vals[0][1]

    # ---- Spark as a whole, over the measured window
    w0, w1 = window
    in_win = [t for t in ev.tasks if w0 <= t[0] <= w1]
    n_req = max(1, len(reqs))
    m["spark.executor_busy_ratio"] = sum(t[1] for t in in_win) / 1000 / ((w1 - w0) * cores)
    m["spark.gc_s"] = sum(t[2] for t in in_win) / 1000 / n_req
    m["spark.tasks"] = len(in_win) / n_req

    # ---- tracing overhead, inside the run: traced vs untraced requests
    on = [r.lat for r in reqs if r.traced]
    if on:
        m["trace.latency_p50_s"] = statistics.median(on)
        num = den = 0.0
        for kind in {r.kind for r in reqs}:
            t = [r.lat for r in reqs if r.kind == kind and r.traced]
            u = [r.lat for r in reqs if r.kind == kind and not r.traced]
            if t and u:
                num += statistics.median(t)
                den += statistics.median(u)
        m["trace.overhead_ratio"] = num / den - 1 if den else 0.0
    return m
