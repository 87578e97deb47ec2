"""Metric names, units and their computation from a run's pass records
(end to end) or spans plus event-log accounting (per layer).

Per-pass figures are reduced with the median over a run's passes. A
per-layer metric whose layer does not run on the workload reads 0, and
so does a metric that no successful pass measured (the result line
then has ``correct: false``).
"""

from __future__ import annotations

import statistics

from perfbench.trace import span_stats

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "spark_jobs": "count",
    "ok_ratio": "ratio",
}

# Printed on the result line of a traced run (and listed in
# BENCHMARK.json): the per-layer figures a change is most likely to
# move, few enough for the line to stay well under 2000 characters.
PER_LAYER = {
    "inputs.read_s": "s",
    "classes.s": "s", "classes.jobs": "count",
    "closure.s": "s", "closure.jobs": "count", "closure.shuffle_bytes": "bytes",
    "closure.idle_s": "s",
    "closure_inc.add_s": "s", "closure_inc.del_s": "s", "closure_inc.jobs": "count",
    "closure_inc.idle_s": "s", "closure_inc.useful_ratio": "ratio",
    "maintainer.batch_s": "s",
    "relations.s": "s",
    "reconcile.s": "s", "reconcile.jobs": "count", "reconcile.shuffle_bytes": "bytes",
    "state.publish_s": "s", "state.bytes_per_row": "bytes",
    "reports.write_s": "s",
    "mentions.detect_s": "s", "mentions.link_s": "s",
    "unionfind.s": "s", "unionfind.pairs_collected": "count",
    "redirects.s": "s", "redirects.jobs": "count",
    "mem.peak_rss_mb": "MB", "spark.shuffle_bytes": "bytes",
    "trace.overhead_s": "s",
}

# Computed in the same traced run and written to the detail file only:
# input-determined counts and secondary splits.
DETAIL_ONLY = {
    "inputs.rows": "count", "closure.tasks": "count", "closure.rows_out": "count",
    "maintainer.self_s": "s", "maintainer.jobs": "count",
    "relations.bag_rows": "count",
    "reconcile.inserts": "count", "reconcile.updates": "count",
    "reconcile.obsoletes": "count",
    "state.bytes_written": "bytes", "reports.rows": "count",
    "mentions.turns_in": "count", "mentions.rows_out": "count",
    "mentions.links_per_mention": "ratio",
    "pass.self_s": "s", "spark.gc_ms": "ms",
    "trace.pairs": "count", "trace.overhead_wall_s": "s",
    "trace.pass_s": "s", "trace.plain_pass_s": "s",
}


def _median(values, default=0.0):
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else default


def _result(passes: list[dict], values: dict, units: dict) -> dict:
    failed = sum(1 for p in passes if p["errors"])
    return {
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {name: {"value": values.get(name, 0), "unit": unit}
                    for name, unit in units.items()},
    }


def end_to_end(detail: dict, setup_s: float, rows_per_pass: int) -> dict:
    """Set-up and pass cost are CPU seconds of the whole process tree
    (Python driver, JVM, Python workers): on a shared host, wall time
    of the same pass moves by a third with the neighbours' load, CPU
    time by a tenth. Wall times and rows per CPU second (a constant
    over ``pass_cpu_s``, as rows per pass are fixed per workload) stay
    in the detail record."""
    passes = detail["passes"]
    ok = [p for p in passes if not p["errors"]]
    cpu_s = _median([p["cpu_s"] for p in ok])
    values = {
        "setup_s": setup_s,
        "pass_cpu_s": cpu_s,
        "spark_jobs": _median([p.get("jobs") for p in ok]),
        "ok_ratio": len(ok) / len(passes),
    }
    detail.update(
        pass_s=_median([p["s"] for p in ok]),
        rows_per_pass=rows_per_pass,
        rows_per_cpu_s=rows_per_pass / cpu_s if cpu_s else 0,
    )
    return _result(passes, values, END_TO_END)


def per_layer(detail: dict, spans, jobs, intervals) -> dict:
    passes = detail["passes"]
    stats = span_stats(spans, jobs, intervals)
    children: dict[int, list] = {}
    for sp in spans:
        children.setdefault(sp.parent, []).append(sp)

    def layers_under(root_sid):
        out: dict[str, list] = {}
        stack = list(children.get(root_sid, ()))
        while stack:
            sp = stack.pop()
            out.setdefault(sp.layer, []).append({**stats[sp.sid], **sp.counts})
            stack.extend(children.get(sp.sid, ()))
        return out

    def total(recs, key):
        return sum(r.get(key, 0) for r in recs)

    per_pass: list[dict] = []
    batch_s, batch_self, batch_jobs, useful = [], [], [], []
    for p in passes:
        if not p["traced"] or "span" not in p:
            continue
        root = stats[p["span"]]
        L = layers_under(p["span"])
        g = lambda layer: L.get(layer, [])  # noqa: E731
        inc = g("closure_inc.add") + g("closure_inc.del")
        mention = g("mentions.detect")
        link = g("mentions.link")
        state = g("state")
        batch_s += [r["s"] for r in g("maintainer")]
        batch_self += [r["self_s"] for r in g("maintainer")]
        batch_jobs += [r["jobs"] for r in g("maintainer")]
        useful += [r["changed"] / r["repinned"] for r in inc if r.get("repinned")]
        per_pass.append({
            "inputs.read_s": total(g("inputs"), "s"),
            "inputs.rows": total(g("inputs"), "rows"),
            "classes.s": total(g("classes"), "s"),
            "classes.jobs": total(g("classes"), "jobs"),
            "closure.s": total(g("closure"), "s"),
            "closure.jobs": total(g("closure"), "jobs"),
            "closure.tasks": total(g("closure"), "tasks"),
            "closure.shuffle_bytes": total(g("closure"), "shuffle_bytes"),
            "closure.idle_s": total(g("closure"), "idle_s"),
            "closure.rows_out": total(g("closure"), "rows_out"),
            "closure_inc.add_s": total(g("closure_inc.add"), "s"),
            "closure_inc.del_s": total(g("closure_inc.del"), "s"),
            "closure_inc.jobs": total(inc, "jobs"),
            "closure_inc.idle_s": total(inc, "idle_s"),
            "relations.s": total(g("relations"), "s"),
            "relations.bag_rows": total(g("relations"), "bag_rows"),
            "reconcile.s": total(g("reconcile"), "s"),
            "reconcile.jobs": total(g("reconcile"), "jobs"),
            "reconcile.shuffle_bytes": total(g("reconcile"), "shuffle_bytes"),
            "reconcile.inserts": total(g("reconcile"), "inserts"),
            "reconcile.updates": total(g("reconcile"), "updates"),
            "reconcile.obsoletes": total(g("reconcile"), "obsoletes"),
            "state.publish_s": total(state, "s"),
            "state.bytes_written": total(state, "bytes_written"),
            "state.bytes_per_row": (total(state, "bytes_written") / total(state, "rows")
                                    if total(state, "rows") else 0),
            "reports.write_s": total(g("reports"), "s"),
            "reports.rows": total(g("reports"), "rows"),
            "mentions.detect_s": total(mention, "s"),
            "mentions.turns_in": detail["inputs"].get("turns", 0) if mention else 0,
            "mentions.rows_out": total(mention, "rows_out"),
            "mentions.link_s": total(link, "s"),
            "mentions.links_per_mention": (total(link, "links") / total(link, "mentions")
                                           if total(link, "mentions") else 0),
            "unionfind.s": total(g("unionfind"), "s"),
            "unionfind.pairs_collected": total(g("unionfind"), "pairs"),
            "redirects.s": total(g("redirects"), "s"),
            "redirects.jobs": total(g("redirects"), "jobs"),
            "pass.self_s": root["self_s"],
            "spark.gc_ms": root["gc_ms"],
            "spark.shuffle_bytes": root["shuffle_bytes"],
        })

    values = {k: _median([pp[k] for pp in per_pass]) for k in (per_pass[0] if per_pass else {})}
    # tracing overhead: CPU (and wall) seconds of each traced pass over
    # the plain pass just before it, both after the same reset
    pairs = [(a, b) for a, b in zip(passes, passes[1:])
             if not a["traced"] and b["traced"] and not (a["errors"] or b["errors"])]
    values.update({
        "maintainer.batch_s": _median(batch_s),
        "maintainer.self_s": _median(batch_self),
        "maintainer.jobs": _median(batch_jobs),
        "closure_inc.useful_ratio": _median(useful),
        "mem.peak_rss_mb": detail.get("peak_rss_mb", 0.0),
        "trace.pairs": len(pairs),
        "trace.pass_s": _median([b["s"] for _, b in pairs]),
        "trace.plain_pass_s": _median([a["s"] for a, _ in pairs]),
        "trace.overhead_s": _median([b["cpu_s"] - a["cpu_s"] for a, b in pairs]),
        "trace.overhead_wall_s": _median([b["s"] - a["s"] for a, b in pairs]),
    })
    detail["layers"] = {name: {"value": values.get(name, 0), "unit": unit}
                        for name, unit in {**PER_LAYER, **DETAIL_ONLY}.items()}
    return _result(passes, values, PER_LAYER)
