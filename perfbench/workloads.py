"""The two workloads: one timed operation each, its correctness check,
and a traced variant that forces every layer inside its own span.

Each workload object is built after set-up, from the session and the
registered source frames, and exposes:

* ``op()`` -> dict(wall_s, cpu_s, errors): one untraced operation;
* ``traced_op(tracer)`` -> dict of per-layer values: the same operation
  with each layer's output materialized (``localCheckpoint(eager=True)``)
  inside a span named after the layer, so a layer's jobs run in its own
  span and its self time is execution, not lazy build;
* ``finish(ops, tracer)`` -> checks that need all operations first (the
  lookup responses against the bulk report, whose pass is traced when a
  tracer is given);
* ``summary(ops)`` -> the workload's own end-to-end figures.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import pyarrow.parquet as pq

#: how each traced operation forces a layer's execution
FORCING = "localCheckpoint(eager=True) of each layer's output; the next layer reads the checkpoint"

FLOAT_TOL = 1e-9


_TICK = os.sysconf("SC_CLK_TCK")


def process_tree(root: int) -> list[tuple[int, str]]:
    """(pid, command name) of every process under ``root``."""
    children: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue  # exited while we looked
            comm, rest = stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:]
            children.setdefault(int(rest.split()[1]), []).append((int(name), comm))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid, comm = todo.pop()
        out.append((pid, comm))
        todo += children.get(pid, [])
    return out


def cpu_ticks() -> int:
    """CPU time, in clock ticks, used so far by this process and every
    process under it (the JVM, the Python workers, and whatever they
    have reaped), without the JVM's JIT compiler threads.

    On a shared host the wall of an operation moves with the CPU time
    other guests take, while the CPU time it uses barely does: on four
    vCPUs, next to three busy loops, the median lookup wall rose from
    4.05 s to 6.17 s and its CPU time went from 4.49 s to 4.47 s. The
    JIT compiler threads are left out because they compile in the
    background, for operations other than the one they overlap; they
    are kept alive for the whole run (no dynamic compiler threads), so
    their CPU time can be taken out exactly."""
    total = 0
    for pid, comm in [(os.getpid(), "")] + process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
            if comm != "java":
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    stat = fh.read()
                if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
                    f = stat.rsplit(")", 1)[1].split()
                    total -= int(f[11]) + int(f[12])
        except OSError:
            pass  # exited while we looked
    return total


def _wall(fn):
    """(wall s, CPU s, result) of one call."""
    c0, t0 = cpu_ticks(), time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    return wall, (cpu_ticks() - c0) / _TICK, out


class BulkReport:
    """Score the captures of a set of URLs in one multi-URL run and write
    the daily report: the report the lookups are checked against."""

    def __init__(self, ctx, urls: list[str]):
        from pyspark.sql import functions as F

        self.ctx = ctx
        self.meta = ctx.inputs["captures"]
        self.caps = ctx.sources["captures"].filter(F.col("url").isin(*urls))
        self.as_of = self.meta["as_of"]
        self.out = ctx.work_path("report")
        dense = dict(zip(self.meta["url_names"], self.meta["url_dense_rows"]))
        self.dense_rows = sum(dense[u] for u in urls)
        captures = dict(zip(self.meta["url_names"], self.meta["url_captures"]))
        self.captures = sum(captures[u] for u in urls)

    def op(self) -> dict:
        tm = self.ctx.tm
        wall, cpu, _ = _wall(lambda: tm.sinks.write_daily_report(
            tm.pipeline.daily_series(self.caps, as_of=self.as_of), self.out))
        return {"wall_s": wall, "cpu_s": cpu, "errors": self.check()}

    def check(self) -> list[str]:
        """Row count = analytic dense count; scores in [0,1]; the planted
        FIXTURES.md §3.2 golden to 1e-6. Reads the written files with
        pyarrow, so the check runs no Spark job and shares no reader
        with the program."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        from gen import FIXTURE_GOLDEN, FIXTURE_URL

        scores = ("Resilience", "Fixity", "Chaos", "Chaosn")
        rep = ds.dataset(self.out, format="parquet", partitioning="hive").to_table(
            columns=["url", "Day", *scores])
        errors = []
        if rep.num_rows != self.dense_rows:
            errors.append(f"rows {rep.num_rows} != analytic {self.dense_rows}")
        for c in scores:
            col = rep.column(c)
            bad = col.null_count + pc.sum(pc.or_(pc.less(col, 0.0), pc.greater(col, 1.0))).as_py()
            if bad:
                errors.append(f"{c}: {bad} values null or outside [0,1]")
        fixture = rep.filter(pc.equal(rep.column("url"), FIXTURE_URL)).to_pylist()
        golden = {r["Day"]: r for r in fixture if r["Day"] in FIXTURE_GOLDEN}
        for day, expect in FIXTURE_GOLDEN.items():
            row = golden.get(day)
            if row is None or any(abs(row[c] - e) > 1e-6 for c, e in zip(scores, expect)):
                errors.append(f"fixture {day}: {row and [row[c] for c in scores]} != {expect}")
        return errors

    def traced_op(self, tr) -> dict:
        tm = self.ctx.tm
        with tr.span("op") as op:
            with tr.span("pipeline.build"):
                tm.pipeline.daily_series(self.caps, as_of=self.as_of)
            daily, dense, scored = _traced_layers(tr, self.caps, self.as_of)
            with tr.span("sinks"):
                tm.sinks.write_daily_report(tm.pipeline.report_projection(scored), self.out)
        errors = self.check()
        tr.collect(self.ctx.slots)
        rows_out = _rows_out(daily, dense, self.dense_rows)
        return {"values": _layer_values(tr, op, scored, rows_out), "errors": errors,
                "wall_s": op.wall_ms / 1e3}


def _traced_layers(tr, caps, as_of: str):
    """captures -> scored dense series with one forced span per layer:
    the composition ``pipeline.daily_series`` uses (fill=0). Returns the
    checkpointed rollup, spine and scored series."""
    import datetime as _dt

    from trendmachine_spark.operators.normalize import normalize_captures
    from trendmachine_spark.operators.recurrence import score_daily_series
    from trendmachine_spark.operators.rollup import daily_rollup
    from trendmachine_spark.operators.spine import densify

    with tr.span("sources"):
        src = caps.localCheckpoint(eager=True)
    with tr.span("operators.normalize"):
        norm = normalize_captures(src).localCheckpoint(eager=True)
    with tr.span("operators.rollup"):
        daily = daily_rollup(norm).localCheckpoint(eager=True)
    with tr.span("operators.spine"):
        dense = densify(daily, None, _dt.date.fromisoformat(as_of)).localCheckpoint(eager=True)
    with tr.span("operators.recurrence"):
        scored = score_daily_series(dense).localCheckpoint(eager=True)
    return daily, dense, scored


def _rows_out(daily, dense, op_rows: int) -> dict:
    return {"operators.rollup": daily.count(), "operators.spine": dense.count(), "op": op_rows}


#: span name -> per-layer metric holding its self time
_SELF_MS = {
    "pipeline.build": "pipeline.build_ms",
    "report.collect": "pipeline.collect_ms",
    "operators.dashboard.build": "operators.dashboard.build_ms",
    "sources": "sources.scan_ms",
    "operators.normalize": "operators.normalize.self_ms",
    "operators.rollup": "operators.rollup.self_ms",
    "operators.spine": "operators.spine.self_ms",
    "operators.recurrence": "operators.recurrence.self_ms",
    "operators.dashboard": "operators.dashboard.self_ms",
    "operators.transitions": "operators.transitions.self_ms",
    "sinks": "sinks.self_ms",
    "extensions.dedup.exact": "extensions.dedup.exact_ms",
    "extensions.dedup.lsh_build": "extensions.dedup.lsh_build_ms",
    "extensions.clusters.verify": "extensions.clusters.verify_ms",
    "extensions.clusters.components": "extensions.clusters.components_ms",
}
#: (span, plan-node name prefix, SQL metric) -> per-layer metric
_NODE_METRICS = {
    ("operators.recurrence", "MapInPandas", "time to start Python workers"): "operators.recurrence.py_start_ms",
    ("operators.recurrence", "MapInPandas", "time to initialize Python workers"): "operators.recurrence.py_init_ms",
    ("operators.recurrence", "MapInPandas", "time to run Python workers"): "operators.recurrence.py_run_ms",
    ("operators.recurrence", "MapInPandas", "data sent to Python workers"): "operators.recurrence.arrow_bytes_sent",
    ("sinks", "", "written output"): "sinks.bytes_written",
    ("sinks", "", "number of written files"): "sinks.files_written",
}
#: Spark counters summed over every span of the operation
_SPARK = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "jvm_gc_ms",
          "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "idle_slot_ms", "failed_tasks")


def _layer_values(tr, op, scored=None, rows_out=None) -> dict:
    """Per-layer values from the spans of one traced operation."""
    spans = {sp.name: sp for sp in tr.spans}
    out = {metric: tr.self_ms(spans[name]) for name, metric in _SELF_MS.items() if name in spans}
    for (name, node, metric), key in _NODE_METRICS.items():
        counts = spans[name].counts if name in spans else {}
        out[key] = sum(v for k, v in counts.items()
                       if k.startswith("node." + node) and k.endswith("." + metric))
    for key in _SPARK:
        out["spark." + key] = sum(float(sp.counts.get("spark." + key, 0.0)) for sp in spans.values())
    if "sources" in spans:
        out["sources.rows_read"] = spans["sources"].counts.get("spark.input_records", 0.0)
        out["sources.bytes_read"] = spans["sources"].counts.get("spark.input_bytes", 0.0)
    if rows_out:
        out["operators.rollup.rows_out"] = float(rows_out["operators.rollup"])
        out["operators.spine.rows_out"] = float(rows_out["operators.spine"])
        out["sources.rows_read_per_row_out"] = out["sources.rows_read"] / max(rows_out["op"], 1)
    if scored is not None:
        # the MapInPandas stage runs one task per partition of its output
        out["operators.recurrence.tasks"] = float(scored.rdd.getNumPartitions())
    out["trace.op_ms"] = op.wall_ms
    out["trace.unaccounted_share"] = tr.self_ms(op) / op.wall_ms
    return out


#: the dashboard panes a request renders (operators.dashboard)
PANES = ("monthly_rollup", "totals", "summary_stats", "content_value_counts",
         "specimen_breakdown", "chaos_melt", "first_last_capture", "headline_metrics")


class DashboardLookup:
    """Closed loop, one client: one URL's series plus every dashboard
    pane and its transition matrix, all collected to the driver. After
    the timed requests, one multi-URL run over every requested URL
    writes the bulk report that each response is checked against."""

    name = "dashboard_lookup"

    def __init__(self, ctx):
        self.ctx = ctx
        self.caps = ctx.sources["captures"]
        self.meta = ctx.inputs["captures"]
        self.as_of = self.meta["as_of"]
        self.rng = random.Random(ctx.seed)
        self.responses: list[tuple[str, list]] = []
        self.bulk: dict | None = None

    def _next_url(self) -> str:
        return self.rng.choices(self.meta["url_names"], weights=self.meta["url_captures"])[0]

    def _render(self, report) -> dict:
        from trendmachine_spark.operators import dashboard
        from trendmachine_spark.operators.transitions import transition_matrix

        panes = {p: getattr(dashboard, p)(report) for p in PANES}
        panes["transition_matrix"] = transition_matrix(report)
        return panes

    def op(self) -> dict:
        from pyspark.sql import functions as F

        tm = self.ctx.tm
        url = self._next_url()

        def request():
            report = tm.pipeline.daily_series(
                self.caps.filter(F.col("url") == url), as_of=self.as_of).localCheckpoint(eager=True)
            rows = report.collect()
            return rows, {k: df.collect() for k, df in self._render(report).items()}

        wall, cpu, (rows, panes) = _wall(request)
        self.responses.append((url, rows))
        return {"wall_s": wall, "cpu_s": cpu, "errors": _pane_errors(rows, panes), "url": url, "rows": len(rows),
                "response": len(self.responses) - 1}

    def traced_op(self, tr) -> dict:
        from pyspark.sql import functions as F

        tm = self.ctx.tm
        url = self._next_url()
        one = self.caps.filter(F.col("url") == url)
        with tr.span("op") as op:
            with tr.span("pipeline.build"):
                tm.pipeline.daily_series(one, as_of=self.as_of)
            daily, dense, scored = _traced_layers(tr, one, self.as_of)
            with tr.span("report.collect"):
                report = tm.pipeline.report_projection(scored)
                rows = report.collect()
            with tr.span("operators.dashboard.build"):
                panes = self._render(report)
                tmx = panes.pop("transition_matrix")
            with tr.span("operators.dashboard"):
                panes = {k: df.collect() for k, df in panes.items()}
            with tr.span("operators.transitions"):
                panes["transition_matrix"] = tmx.collect()
        self.responses.append((url, rows))
        tr.collect(self.ctx.slots)
        rows_out = _rows_out(daily, dense, len(rows))
        return {"values": _layer_values(tr, op, scored, rows_out), "errors": _pane_errors(rows, panes),
                "wall_s": op.wall_ms / 1e3, "response": len(self.responses) - 1}

    def finish(self, ops, tr) -> None:
        """§4 invariant: every response equals that URL's rows in the
        bulk report of all requested URLs plus the planted fixture URL,
        written with ``sinks.write_daily_report`` (traced when ``tr`` is
        given) and read back with ``sinks.read_daily_report``."""
        from gen import FIXTURE_URL
        from pyspark.sql import functions as F

        urls = sorted({u for u, _ in self.responses} | {FIXTURE_URL})
        bulk = BulkReport(self.ctx, urls)
        done = bulk.traced_op(tr) if tr else bulk.op()
        if done["errors"]:
            raise AssertionError("bulk report: " + "; ".join(done["errors"]))
        self.bulk = {"wall_s": done["wall_s"], "captures": bulk.captures, "dense_rows": bulk.dense_rows}
        if tr:
            # a lookup writes nothing: the sink's figures come from here
            sinks = {k: v for k, v in done["values"].items() if k.startswith("sinks.")}
            for op in ops:
                op.get("values", {}).update(sinks)

        ref: dict[str, list] = {}
        report = self.ctx.tm.sinks.read_daily_report(self.ctx.spark, bulk.out)
        for r in report.filter(F.col("url").isin(*urls)).collect():
            ref.setdefault(r["url"], []).append(r)
        for op in ops:
            if "response" not in op:
                continue
            url, rows = self.responses[op["response"]]
            err = _rows_differ(sorted(rows, key=lambda r: r["Day"]),
                               sorted(ref.get(url, []), key=lambda r: r["Day"]))
            if err:
                op["errors"].append(f"{url}: {err}")

    def summary(self, ops) -> dict:
        walls = sorted(o["wall_s"] * 1e3 for o in ops)
        out = {"lookup_p50_ms": (statistics.median(walls), "ms")}
        if len(walls) >= 100:
            out["lookup_p90_ms"] = (statistics.quantiles(walls, n=10)[-1], "ms")
        if self.bulk:
            out["bulk_captures"] = (self.bulk["captures"], "count")
            out["bulk_captures_per_s"] = (self.bulk["captures"] / self.bulk["wall_s"], "captures/s")
            out["bulk_dense_rows_per_s"] = (self.bulk["dense_rows"] / self.bulk["wall_s"], "rows/s")
        return out


def _rows_differ(got: list, want: list) -> str | None:
    """First difference between a response and the bulk report's rows
    of its URL, over the response's columns."""
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} in the bulk report"
    for g, w in zip(got, want):
        for k in g.asDict():
            a, b = g[k], w[k]
            if isinstance(b, float) and a is not None and abs(a - b) <= FLOAT_TOL:
                continue
            if a != b:
                return f"{w['Day']} {k}: {a!r} != {b!r}"
    return None


def _pane_errors(rows: list, panes: dict) -> list[str]:
    """FIXTURES.md §4 invariants that tie the panes to the series."""
    errors = []
    n = len(rows)
    breakdown = {r["Specimen"]: r["Days"] for r in panes["specimen_breakdown"]}
    if sum(breakdown.values()) != n:
        errors.append(f"Active+Filled+Missing {sum(breakdown.values())} != {n} spine days")
    totals = {r["Status"]: r["Total"] for r in panes["totals"]}
    if totals.get("All", 0) != sum(r["All"] for r in rows):
        errors.append("totals.All != sum of daily All")
    valid = sum(r["Specimen"] in ("2xx", "3xx", "4xx", "5xx") for r in rows)
    moves = sum(r["Count"] for r in panes["transition_matrix"])
    if moves != max(valid - 1, 0):
        errors.append(f"transitions {moves} != valid days - 1 = {valid - 1}")
    return errors


class CorpusDedup:
    """Exact dedup plus LSH → exact-Jaccard verify → connected
    components over a corpus with planted copies and near-dup families."""

    name = "corpus_dedup"

    def __init__(self, ctx):
        self.ctx = ctx
        self.docs = ctx.sources["docs"]
        self.meta = ctx.inputs["docs"]
        self.threshold = self.meta["threshold"]
        table = pq.read_table(ctx.inputs["docs_dir"])
        self.text = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
        self.recall: list[float] = []

    def op(self) -> dict:
        ext = self.ctx.tm

        def run():
            exact = ext.dedup.exact_dedup(self.docs).collect()
            clusters = ext.clusters.dedup_clusters(self.docs).collect()
            return exact, clusters

        wall, cpu, (exact, clusters) = _wall(run)
        cluster_of = {r["doc_id"]: r["cluster_id"] for r in clusters}
        return {"wall_s": wall, "cpu_s": cpu, "errors": self.check(exact, cluster_of)}

    def check(self, exact, cluster_of: dict, verified=None) -> list[str]:
        from gen import jaccard

        errors = []
        if len(exact) != self.meta["distinct_texts"]:
            errors.append(f"exact_dedup {len(exact)} groups != {self.meta['distinct_texts']} distinct texts")
        if sum(r["n_copies"] for r in exact) != self.meta["docs"]:
            errors.append("exact_dedup copies do not sum to the corpus size")
        members: dict[int, list[int]] = {}
        for doc, cid in cluster_of.items():
            members.setdefault(cid, []).append(doc)
        rng = random.Random(self.ctx.seed)
        sample = rng.sample(sorted(members), min(40, len(members)))
        for cid in sample:
            docs = members[cid]
            if not self._connected(docs, jaccard):
                errors.append(f"cluster {cid}: not connected at Jaccard >= {self.threshold}")
        for a, b in (verified or [])[:200]:
            if jaccard(self.text[a], self.text[b]) < self.threshold:
                errors.append(f"verified pair ({a}, {b}) below {self.threshold}")
        pairs = self.meta["planted_pairs"]
        hit = sum(1 for a, b in pairs if a in cluster_of and cluster_of.get(a) == cluster_of.get(b))
        self.recall.append(hit / len(pairs) if pairs else 1.0)
        return errors

    def _connected(self, docs: list[int], jaccard) -> bool:
        """The cluster is one component of the Python-recomputed
        Jaccard >= threshold graph over its members."""
        seen, todo = {docs[0]}, [docs[0]]
        while todo:
            a = todo.pop()
            for b in docs:
                if b not in seen and jaccard(self.text[a], self.text[b]) >= self.threshold:
                    seen.add(b)
                    todo.append(b)
        return len(seen) == len(docs)

    def traced_op(self, tr) -> dict:
        ext = self.ctx.tm
        rounds = [0]
        cls = type(self.docs)
        plain = cls.localCheckpoint

        def counting(df, *a, **kw):
            rounds[0] += 1
            return plain(df, *a, **kw)

        with tr.span("op") as op:
            with tr.span("extensions.dedup.exact"):
                exact = ext.dedup.exact_dedup(self.docs).collect()
            with tr.span("extensions.dedup.lsh_build"):
                cands = ext.dedup.minhash_near_dup(self.docs).localCheckpoint(eager=True)
            with tr.span("extensions.clusters.verify"):
                verified = ext.clusters.verify_candidates(cands, self.docs).localCheckpoint(eager=True)
            with tr.span("extensions.clusters.components"):
                cls.localCheckpoint = counting
                try:
                    comps = ext.clusters.connected_components(verified).collect()
                finally:
                    cls.localCheckpoint = plain
        n_cand, ver = cands.count(), verified.select("id_a", "id_b").collect()
        cluster_of = {r["node"]: r["cluster"] for r in comps}
        errors = self.check(exact, cluster_of, [(r["id_a"], r["id_b"]) for r in ver])
        tr.collect(self.ctx.slots)
        out = _layer_values(tr, op)
        out["extensions.dedup.candidate_pairs"] = float(n_cand)
        out["extensions.clusters.verified_pairs"] = float(len(ver))
        out["extensions.clusters.cc_rounds"] = float(rounds[0])
        out["extensions.dedup.lsh_precision"] = len(ver) / n_cand if n_cand else 0.0
        out["extensions.clusters.near_dup_recall"] = self.recall[-1]
        return {"values": out, "errors": errors, "wall_s": op.wall_ms / 1e3}

    def finish(self, ops, tr) -> None:
        pass

    def summary(self, ops) -> dict:
        p50 = statistics.median(o["wall_s"] for o in ops)
        return {"dedup_docs_per_s": (self.meta["docs"] / p50, "docs/s"),
                "near_dup_recall": (self.recall[0] if self.recall else 0.0, "ratio")}


WORKLOADS = {w.name: w for w in (DashboardLookup, CorpusDedup)}
