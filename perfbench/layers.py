"""Per-layer metrics of the traced run (``--trace 1``).

Three sources, none of which changes the program under test:

- spans the benchmark records around its own calls into each module, plus
  wrappers it installs at run time around a few public functions that the
  plans call internally (the table compiler, the uniqueness/referential
  verdict actions, the MinHash signature materialization);
- Catalyst's phase tracker on the DataFrames the benchmark executes;
- Spark's uncompressed event log, attributed to spans through the
  ``perfbench.span`` / ``perfbench.pass`` local properties.

Pass-level metrics are the median over the timed passes; set-up metrics
the median over the run's set-ups. A metric of a layer the workload does
not use reads 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import spans

#: (name, unit, better) of every per-layer metric the benchmarked
#: workloads print, in BENCHMARK.json order
PER_LAYER = [
    ("spec.compile_s", "s", "lower"),
    ("compiler.table.compile_s", "s", "lower"),
    ("compiler.table.checks", "count", "lower"),
    ("compiler.variantcol.compile_s", "s", "lower"),
    ("compiler.variantcol.kernel_rows", "rows", "lower"),
    ("compiler.jsoncol.compile_s", "s", "lower"),
    ("kernel.python_s", "s", "lower"),
    ("kernel.boot_s", "s", "lower"),
    ("kernel.rows", "rows", "lower"),
    ("kernel.bytes_sent", "bytes", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("scan.rows", "rows", "lower"),
    ("scan.bytes", "bytes", "lower"),
    ("scan.ms", "ms", "lower"),
    ("scan.pushed_filters", "count", "higher"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.run_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("shuffle.bytes_written", "bytes", "lower"),
    ("shuffle.records", "count", "lower"),
    ("shuffle.write_ms", "ms", "lower"),
    ("uniqueness.verdict_s", "s", "lower"),
    ("referential.verdict_s", "s", "lower"),
    ("validation_run.call_s", "s", "lower"),
    ("validation_run.verdicts_s", "s", "lower"),
    ("validation_run.report_write_s", "s", "lower"),
    ("caching.persisted_bytes", "bytes", "lower"),
    ("setup.cold_s", "s", "lower"),
    ("trace.setup_s", "s", "lower"),
    ("trace.first_pass_s", "s", "lower"),
    ("trace.pass_s", "s", "lower"),
]

#: per-layer metrics of the workloads that are runnable by hand but not in
#: BENCHMARK.json (see README "Workloads"); printed only by their runs
EXTRA_LAYERS = {
    "text_dedup": [
        ("dedup.signatures_s", "s", "lower"),
        ("dedup.components_s", "s", "lower"),
        ("dedup.candidates", "pairs", "lower"),
        ("dedup.verify_yield", "ratio", "higher"),
        ("dedup.broadcast_bytes", "bytes", "lower"),
    ],
    "image_bytes": [
        ("imagedup.decode_rows", "rows", "lower"),
        ("imagedup.python_s", "s", "lower"),
        ("roundtrip.verdict_s", "s", "lower"),
        ("roundtrip.decode_rows", "rows", "lower"),
        ("image_curation.report_s", "s", "lower"),
        ("image_curation.byte_scans", "count", "lower"),
    ],
}


def metric_names(workload: str) -> list[tuple[str, str, str]]:
    return PER_LAYER + EXTRA_LAYERS.get(workload, [])


#: span name -> per-layer metric timed by it
SPAN_METRICS = {
    "compiler.table.compile": "compiler.table.compile_s",
    "uniqueness.verdict": "uniqueness.verdict_s",
    "referential.verdict": "referential.verdict_s",
    "validation_run.call": "validation_run.call_s",
    "validation_run.verdicts": "validation_run.verdicts_s",
    "validation_run.report_write": "validation_run.report_write_s",
    "dedup.signatures": "dedup.signatures_s",
    "dedup.components": "dedup.components_s",
    "roundtrip.verdict": "roundtrip.verdict_s",
    "image_curation.report": "image_curation.report_s",
}
#: spans that run at set-up, not in a pass
SETUP_SPANS = {"spec.compile": "spec.compile_s",
               "compiler.variantcol.compile": "compiler.variantcol.compile_s",
               "compiler.jsoncol.compile": "compiler.jsoncol.compile_s"}


def install_wrappers(tracer) -> None:
    """Time calls the plans make internally, by rebinding module attributes
    in this process only. Lazy results get their action wrapped."""
    from sparkschema.operators import dedup, referential, uniqueness
    from sparkschema.plans import validation_run

    def timed_call(fn, name):
        def wrapper(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)
        return wrapper

    def timed_action(fn, name, action):
        def wrapper(*a, **k):
            df = fn(*a, **k)
            act = getattr(df, action)

            def run(*a2, **k2):
                with tracer.span(name):
                    return act(*a2, **k2)
            setattr(df, action, run)
            return df
        return wrapper

    validation_run.compile_table_spec = timed_call(
        validation_run.compile_table_spec, "compiler.table.compile")
    uniqueness.uniqueness_verdict = timed_action(
        uniqueness.uniqueness_verdict, "uniqueness.verdict", "collect")
    referential.orphan_verdict = timed_action(
        referential.orphan_verdict, "referential.verdict", "collect")
    # minhash_lsh_pairs materializes the persisted signature table with
    # its first count()
    dedup.minhash_signatures = timed_action(
        dedup.minhash_signatures, "dedup.signatures", "count")


def persisted_bytes(spark) -> int:
    """Bytes held by cached RDDs right now (memory + disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _node_sum(sql: dict, keys, node_pred, metric_pred) -> float:
    total = 0.0
    for key in keys:
        for (node, metric), v in sql.get(key, {}).items():
            if node_pred(node) and metric_pred(metric):
                total += v
    return total


def _is_python_eval(node: str) -> bool:
    return node.startswith("ArrowEvalPython")


def _is_map_in_arrow(node: str) -> bool:
    return "MapInArrow" in node


def extract(tracer, phases: dict, event_dir: str, timed_ids: list[int],
            workload: str) -> dict[str, tuple[float, str]]:
    names = metric_names(workload)
    units = {n: u for n, u, _ in PER_LAYER}
    for extra in EXTRA_LAYERS.values():
        units.update((n, u) for n, u, _ in extra)
    per_pass: dict[str, list[float]] = defaultdict(list)
    totals = tracer.span_totals()
    ev = spans.read_event_logs(event_dir)
    counts: dict[tuple, float] = {}
    for c in tracer.counts:
        counts[(c["pass"], c["name"])] = c["value"]

    for pid in timed_ids:
        t = totals.get(pid, {})
        for span, metric in SPAN_METRICS.items():
            per_pass[metric].append(t.get(span, 0.0))
        keys = [k for k in ev["sql"] if k[0] == pid]
        skeys = [k for k in ev["stages"] if k[0] == pid]
        st = defaultdict(float)
        for k in skeys:
            for m, v in ev["stages"][k].items():
                st[m] += v
        per_pass["exec.jobs"].append(st["jobs"])
        per_pass["exec.stages"].append(st["stages"])
        per_pass["exec.run_s"].append(st["run_ms"] / 1e3)
        per_pass["exec.cpu_s"].append(st["cpu_ns"] / 1e9)
        per_pass["exec.gc_s"].append(st["gc_ms"] / 1e3)
        per_pass["exec.spill_bytes"].append(st["spill_bytes"])
        per_pass["shuffle.bytes_written"].append(st["shuffle_bytes"])
        per_pass["shuffle.records"].append(st["shuffle_records"])
        per_pass["shuffle.write_ms"].append(st["shuffle_write_ns"] / 1e6)

        def scan(metric):
            return _node_sum(ev["sql"], keys, lambda n: n.startswith("Scan "),
                             lambda m: m == metric)
        per_pass["scan.rows"].append(scan("number of output rows"))
        per_pass["scan.bytes"].append(scan("size of files read"))
        per_pass["scan.ms"].append(scan("scan time"))
        pushed = 0
        for k in keys:
            for node in ev["scans"].get(k, []):
                f = (node.get("metadata") or {}).get("PushedFilters", "[]")
                inner = f.strip()[1:-1].strip()
                pushed += len([x for x in _split_top(inner) if x])
        per_pass["scan.pushed_filters"].append(pushed)

        # the Arrow kernel (compiler.jsoncol + spec.interpreter)
        def py(metric, span=None, pred=_is_python_eval):
            ks = [k for k in keys if span is None or k[1] == span]
            return _node_sum(ev["sql"], ks, pred, lambda m: m == metric)
        jkeys = ("variantcol.verdicts", "jsoncol.report_write")
        per_pass["kernel.python_s"].append(
            sum(py("time to run Python workers", s) for s in jkeys) / 1e3)
        per_pass["kernel.boot_s"].append(
            sum(py("time to start Python workers", s)
                + py("time to initialize Python workers", s) for s in jkeys) / 1e3)
        per_pass["kernel.rows"].append(
            sum(py("number of output rows", s) for s in jkeys))
        per_pass["kernel.bytes_sent"].append(
            sum(py("data sent to Python workers", s) for s in jkeys))
        per_pass["compiler.variantcol.kernel_rows"].append(
            py("number of output rows", "variantcol.verdicts"))
        per_pass["imagedup.decode_rows"].append(
            py("number of output rows", "image_curation.report",
               _is_map_in_arrow))
        per_pass["imagedup.python_s"].append(
            py("time to run Python workers", "image_curation.report",
               _is_map_in_arrow) / 1e3)
        per_pass["roundtrip.decode_rows"].append(
            py("number of output rows", "roundtrip.verdict"))
        byte_scans = 0
        for k in keys:
            if k[1] != "image_curation.report":
                continue
            for node in ev["scans"].get(k, []):
                rs = (node.get("metadata") or {}).get("ReadSchema", "")
                if "bytes:binary" in rs:
                    byte_scans += 1
        per_pass["image_curation.byte_scans"].append(byte_scans)
        per_pass["dedup.broadcast_bytes"].append(_node_sum(
            ev["sql"], [k for k in keys if k[1] and k[1].startswith("dedup.")],
            lambda n: n.startswith("BroadcastExchange"),
            lambda m: m == "data size"))

        for name in ("caching.persisted_bytes", "dedup.candidates",
                     "dedup.verify_yield", "compiler.table.checks"):
            per_pass[name].append(counts.get((pid, name), 0.0))

    out = {m: (_median(v), units[m]) for m, v in per_pass.items()}
    # Catalyst phases of the first pass (pass 0), the metric they should
    # move being first_pass_cpu_s; json_documents plans its queries only then
    ph = phases.get(0, {})
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = (ph.get(phase, 0.0), "ms")
    setup_spans = defaultdict(list)
    for s in tracer.spans:
        if s["pass"] is None and s["name"] in SETUP_SPANS:
            setup_spans[SETUP_SPANS[s["name"]]].append(s["end"] - s["start"])
    for metric in SETUP_SPANS.values():
        out[metric] = (_median(setup_spans.get(metric, [])), units[metric])
    if not out["compiler.table.checks"][0]:
        out["compiler.table.checks"] = (
            counts.get((None, "compiler.table.checks"), 0.0), "count")
    return {n: out[n] for n, _, _ in names if n in out}


def _split_top(s: str) -> list[str]:
    """Split a Spark ``[a, f(b, c), d]`` list body on top-level commas."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    return parts


def self_times(tracer, timed_ids: list[int]) -> dict[str, float]:
    """Median self seconds per span name over the timed passes."""
    totals = tracer.span_totals()
    names = {n for pid in timed_ids for n in totals.get(pid, {})
             if n.endswith(".self")}
    return {n[:-5]: _median(totals.get(pid, {}).get(n, 0.0) for pid in timed_ids)
            for n in sorted(names)}
