"""Outside-in tracing for the traced benchmark run.

Spans are recorded by the benchmark around calls into each layer's public
functions; the program itself is not edited.  ``instrument`` swaps those
module attributes for wrappers and ``restore`` puts them back.  Callers look
the functions up through the module at call time (``linking.link_triples``,
``materialize.merge_insert_absent`` ...), so a swapped attribute is what the
pipeline, the job and the stream actually call.

The pipeline is lazy and deliberately does not persist, so a wrapper first
STAGES the layer's data input (persist + count, recorded as a ``stage``
span), then times the call plus forcing its outputs (persist + count).  The
layer span's self time is then that layer's own work, not the recompute of
everything upstream.  Staging and counting time is tracing overhead, not
layer time.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

STAGE = "stage"


def job_ids(sc, groups: list[str]) -> set[int]:
    """Ids of the jobs ``statusTracker`` knows in any of the job groups."""
    st = sc.statusTracker()
    return {j for g in groups for j in st.getJobIdsForGroup(g)}


def completed_tasks(sc, jobs) -> int:
    st = sc.statusTracker()
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return tasks


class Tracer:
    """In-memory spans (name, start, end, parent, run id) plus per-layer
    counters.  Written out by the caller when the run ends.

    Spans opened on the stream's ``foreachBatch`` thread nest under the span
    open on the main thread, which is blocked waiting for that batch; one
    thread runs at a time, so the stack needs no lock."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[dict] = []
        self._staged: list[DataFrame] = []
        self.counted_inputs: set[int] = set()

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + value

    def in_layer(self, layer: str) -> bool:
        return any(s["layer"] == layer for s in self._stack)

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "group": f"perfbench-{self.run_id}-{len(self.spans)}",
            "start": time.perf_counter(),
            "end": None,
            "jobs": 0,
            "tasks": 0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(top["group"], top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = job_ids(self.sc, [rec["group"]])
            rec["jobs"], rec["tasks"] = len(jobs), completed_tasks(self.sc, jobs)

    def stage(self, df: DataFrame) -> int:
        """Persist and count ``df`` outside any layer's time; returns rows."""
        with self.span("stage", STAGE):
            n = df.persist().count()
        self._staged.append(df)
        return n

    def force(self, df: DataFrame) -> int:
        """Persist and count a layer output INSIDE the caller's span."""
        n = df.persist().count()
        self._staged.append(df)
        return n

    def release(self) -> None:
        for df in self._staged:
            df.unpersist()
        self._staged.clear()
        self.counted_inputs.clear()

    # -- derived numbers ---------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its direct children cover."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {
            s["id"]: (s["end"] - s["start"]) - child[s["id"]]
            for s in self.spans
            if s["end"] is not None
        }

    def layer_self(self) -> dict[str, float]:
        out: dict[str, float] = {}
        st = self.self_times()
        for s in self.spans:
            if s["id"] in st:
                out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
        return out

    def layer_sum(self, layer: str, key: str) -> int:
        return sum(s[key] for s in self.spans if s["layer"] == layer)

    def named_self(self, name: str) -> float:
        st = self.self_times()
        return sum(st[s["id"]] for s in self.spans if s["name"] == name and s["id"] in st)


def _wrap(tracer: Tracer, module, attr: str, layer: str, body, nest: bool = False):
    """Replace ``module.attr`` with a traced wrapper; returns what
    ``restore`` needs to put it back.

    Unless ``nest``, a call made while a span of the same layer is open
    (``link_triples`` calling ``link_mentions``) passes straight through, so
    that layer's work and counters are taken once."""
    real = getattr(module, attr)

    @functools.wraps(real)
    def wrapper(*args, **kwargs):
        if not nest and tracer.in_layer(layer):
            return real(*args, **kwargs)
        return body(real, *args, **kwargs)

    setattr(module, attr, wrapper)
    return module, attr, real


def instrument(tracer: Tracer) -> list:
    """Install the layer wrappers; returns what ``restore`` needs.

    The extract wrapper counts error turns with one extra
    ``kinds=("turn",)`` extraction per distinct input, outside the layer
    span."""
    from graphene_spark import (
        blocking,
        canonicalize,
        extract,
        graph,
        job,
        linking,
        materialize,
        pipeline,
        postprocess,
    )

    t = tracer
    undo = []

    def extract_body(real, transcripts, aliases, kinds=None):
        n_in = t.stage(transcripts)
        with t.span(f"extract.{real.__name__}", "extract"):
            out = real(transcripts, aliases, kinds=kinds)
            t.add("extract.rows_out", t.force(out))
        t.add("extract.turns", n_in)
        if id(transcripts) not in t.counted_inputs:
            t.counted_inputs.add(id(transcripts))
            with t.span("count", STAGE):
                m = extract.metrics_from_rows(real(transcripts, aliases, kinds=("turn",)))
                t.add("extract.error_turns", m.agg({"n_error_turns": "sum"}).first()[0] or 0)
        return out

    for name in ("extract_rows_arrow", "extract_rows", "extract_rows_native"):
        undo.append(_wrap(t, extract, name, "extract", extract_body))

    def link_body(real, rows, dictionary, **kw):
        n_in = t.stage(rows)
        with t.span(f"linking.{real.__name__}", "linking"):
            linked, missed = real(rows, dictionary, **kw)
            n_linked = t.force(linked)
            n_missed = t.force(missed)
        t.add("linking.rows_in", n_in)
        t.add("linking.linked", n_linked)
        t.add("linking.dangling", n_missed)
        return linked, missed

    for name in ("link_triples", "link_mentions"):
        undo.append(_wrap(t, linking, name, "linking", link_body))

    def fuzzy_body(real, unmatched, dictionary, **kw):
        t.add("blocking.norms_in", t.stage(unmatched))
        with t.span("blocking.fuzzy_link_unmatched", "blocking"):
            out = real(unmatched, dictionary, **kw)
            t.add("blocking.matches", t.force(out))
        # the candidate set fuzzy_link_unmatched verifies: same arguments it
        # passes to candidate_pairs, with threshold 0 so that every band
        # collision is kept (the verify step is what the threshold drops)
        import pyspark.sql.functions as F

        with t.span("count", STAGE):
            aliases = dictionary.select(
                "entity_id", "canonical_name", F.explode("aliases").alias("alias")
            )
            pairs = blocking.candidate_pairs(
                unmatched.select("norm").distinct(), aliases,
                "norm", "alias", "norm", "entity_id",
                threshold=0.0,
                num_hashes=kw.get("num_hashes", 32),
                bands=kw.get("bands", 8),
            )
            t.add("blocking.candidate_pairs", pairs.count())
        return out

    undo.append(_wrap(t, blocking, "fuzzy_link_unmatched", "blocking", fuzzy_body))

    def canon_body(real, dictionary, *a, **kw):
        t.stage(dictionary)
        with t.span("canonicalize.canonical_entities", "canonicalize"):
            out = real(dictionary, *a, **kw)
            t.add("canonicalize.entities", t.force(out))
        with t.span("count", STAGE):
            t.add("canonicalize.components", out.select("canonical_id").distinct().count())
        return out

    undo.append(_wrap(t, canonicalize, "canonical_entities", "canonicalize", canon_body))

    def nodes_body(real, candidates):
        t.add("graph.node_candidates", t.stage(candidates))
        with t.span("graph.build_nodes", "graph"):
            out = real(candidates)
            t.add("graph.nodes", t.force(out))
        return out

    def edges_body(real, candidates, nodes):
        t.stage(candidates)
        t.stage(nodes)
        with t.span("graph.build_edges", "graph"):
            edges, dangling = real(candidates, nodes)
            t.add("graph.edges", t.force(edges))
            t.add("graph.dangling_edges", t.force(dangling))
        return edges, dangling

    undo.append(_wrap(t, graph, "build_nodes", "graph", nodes_body))
    undo.append(_wrap(t, graph, "build_edges", "graph", edges_body))

    def pipeline_body(real, *a, **kw):
        with t.span("pipeline.run_pipeline", "pipeline"):
            return real(*a, **kw)

    undo.append(_wrap(t, pipeline, "run_pipeline", "pipeline", pipeline_body))

    # the merge counter: ParquetMergeSink.merge_insert_absent (the sink
    # run_with_lineage and job.main's post-process merge go through) and the
    # stream's foreachBatch both call this module function
    def merge_body(real, spark, df, path, keys, *a, **kw):
        t.add("materialize.rows_offered", t.stage(df))
        with t.span("materialize.merge_insert_absent", "materialize"):
            n = real(spark, df, path, keys, *a, **kw)
        t.add("materialize.rows_inserted", n)
        return n

    def lineage_body(real, *a, **kw):
        with t.span("materialize.write_lineage_row", "materialize"):
            return real(*a, **kw)

    def run_lineage_body(real, *a, **kw):
        with t.span("materialize.run_with_lineage", "materialize"):
            totals = real(*a, **kw)
        t.add("materialize.buckets_run", totals.get("buckets_run", 0))
        return totals

    undo.append(_wrap(t, materialize, "merge_insert_absent", "materialize", merge_body, nest=True))
    undo.append(_wrap(t, materialize, "write_lineage_row", "materialize", lineage_body, nest=True))
    undo.append(_wrap(t, materialize, "run_with_lineage", "materialize", run_lineage_body, nest=True))

    def pp_body(real, edges, *a, **kw):
        t.stage(edges)
        with t.span(f"postprocess.{real.__name__}", "postprocess"):
            out, n = real(edges, *a, **kw)
            t.force(out)
        t.add("postprocess.same_as" if real.__name__ == "two_hop_edges" else "postprocess.ancestor", n)
        return out, n

    undo.append(_wrap(t, postprocess, "two_hop_edges", "postprocess", pp_body))
    undo.append(_wrap(t, postprocess, "bounded_path_edges", "postprocess", pp_body))

    def job_body(real, *a, **kw):
        with t.span("job.main", "job"):
            return real(*a, **kw)

    undo.append(_wrap(t, job, "main", "job", job_body))
    return undo


def restore(undo: list) -> None:
    for module, attr, real in reversed(undo):
        setattr(module, attr, real)
