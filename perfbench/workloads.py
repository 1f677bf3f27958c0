"""The benchmark's workloads: seeded inputs, the timed operation, the checks.

Every input is made here from the seed and handed to the program as data
(parquet files, a dictionary frame, an alias list); the program never sees
the seed.  Sizes are fixed per workload so that one run fits a few cores of
a shared box; README.md says why each workload exists.
"""

from __future__ import annotations

import os
import re
import shutil
import time

import numpy as np
import pandas as pd

N_ENTITIES = 500
N_HOT = 10
TURNS_PER_CONV = 20
MIN_PR = 0.95  # BASELINE.json triple P/R floor against oracle.run_oracle

_ALIAS = re.compile(r"(Ent |ent_|ENT-)(\d{5})")


def _transcripts(n_turns: int, seed: int, prefix: str) -> pd.DataFrame:
    from graphene_spark import datagen

    pdf = datagen.make_transcripts(
        n_convs=max(n_turns // TURNS_PER_CONV, 1), turns_per_conv=TURNS_PER_CONV,
        n_entities=N_ENTITIES, n_hot=N_HOT, seed=seed,
    )
    pdf["conv_id"] = pdf["conv_id"].str.replace("conv-", f"{prefix}-", regex=False)
    return pdf


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    # micro-second timestamps: Spark's parquet reader refuses pandas' nanos
    pdf.to_parquet(path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)


def triple_set(pdf: pd.DataFrame) -> set:
    return {tuple(r) for r in pdf[["subj", "pred", "obj"]].itertuples(index=False)}


def precision_recall(emitted: set, expected: set) -> tuple[float, float]:
    inter = len(emitted & expected)
    p = inter / len(emitted) if emitted else 0.0
    r = inter / len(expected) if expected else 1.0
    return p, r


def triple_failures(label: str, emitted: set, expected: set) -> tuple[list[str], float, float]:
    """The triple check: (failures, precision, recall) of an emitted
    (subj, pred, obj) set against the expected one."""
    p, r = precision_recall(emitted, expected)
    fails = [] if p >= MIN_PR and r >= MIN_PR else [
        f"{label}: triple P/R {p:.4f}/{r:.4f} below {MIN_PR}"]
    return fails, p, r


def store_files(root: str, tables=("triples", "nodes", "edges")) -> tuple[int, int]:
    """(data files, bytes) of the parquet tables under ``root``."""
    files = size = 0
    for t in tables:
        for d, _, names in os.walk(os.path.join(root, t)):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, n))
    return files, size


class Workload:
    """One workload.  ``inputs`` makes and stages the seeded data, the
    gazetteer (``aliases``) and the oracle answer (once per run); ``prepare`` is the per-session set-up that
    ``setup_s`` times; ``op`` is one timed operation; ``check`` returns the
    failed checks of the operation just run (empty when correct)."""

    name = ""
    cold = False  # time the first operation in the JVM (no warm-up) untraced
    check_each = True  # check after every operation, else once at the end
    merges = False  # writes through materialize's insert-if-absent merge

    def __init__(self, run_dir: str, seed: int):
        self.run_dir = run_dir
        self.seed = seed

    def path(self, *p: str) -> str:
        return os.path.join(self.run_dir, *p)

    def prepare(self, spark) -> None:
        """Per-session set-up, timed by ``setup_s``."""

    def start(self, spark) -> None:
        """Once, after set-up: state the timed operations build on."""

    def warm_up(self, spark) -> list[str]:
        """Once, after ``start``: one untimed operation, so that the timed
        ones do not pay the JVM's class loading, JIT and code generation.
        Returns its failed checks."""
        self.op(spark)
        return self.check(spark)[0]

    def job_groups(self) -> list[str]:
        """Job groups, besides the caller's, that the operation's jobs run in."""
        return []

    def exhausted(self) -> bool:
        return False

    def stream_progress(self) -> list[dict]:
        return []

    def close(self) -> None:
        pass


class Build(Workload):
    """``job.main`` (the spark-submit entry point) with lineage buckets and
    post-processing, into a fresh output directory per operation.

    The untraced run times the first job in the JVM, as ``spark-submit``
    runs it.  The traced run first warms up with the same job over a small
    input."""

    name = "build"
    cold = True
    merges = True
    N_TURNS = 200
    WARM_UP_TURNS = 20
    BUCKETS = 1

    def inputs(self) -> None:
        from graphene_spark import datagen, oracle

        dic = datagen.make_entity_dictionary(N_ENTITIES, N_HOT, seed=self.seed)
        dic.to_parquet(self.path("dictionary.parquet"), index=False)
        self.aliases = [a for al in dic["aliases"] for a in al]
        tx = _transcripts(self.N_TURNS, self.seed, "b")
        for name, pdf in (("transcripts", tx),
                          ("warm-up", _transcripts(self.WARM_UP_TURNS, self.seed, "w"))):
            os.makedirs(self.path(name))
            write_parquet(pdf, self.path(name, "part-0.parquet"))
        self.turns = len(tx)
        self.expected = triple_set(oracle.run_oracle(tx, dic).triples)
        self.ops = 0

    def _job(self, transcripts: str, out: str) -> dict:
        import contextlib
        import io
        import json

        from graphene_spark import job

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            job.main([
                "--transcripts", transcripts,
                "--dictionary", self.path("dictionary.parquet"),
                "--out", out,
                "--buckets", str(self.BUCKETS),
                "--postprocess",
            ])
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def warm_up(self, spark) -> list[str]:
        self._job(self.path("warm-up"), self.path("out-warm-up"))
        shutil.rmtree(self.path("out-warm-up"), ignore_errors=True)
        return []

    def op(self, spark) -> dict:
        self.ops += 1
        self.out = self.path(f"out-{self.ops}")
        t0 = time.perf_counter()
        self.summary = self._job(self.path("transcripts"), self.out)
        dt = time.perf_counter() - t0
        return {"seconds": dt, "turns": self.turns, "batches": [dt]}

    def check(self, spark) -> tuple[list[str], dict]:
        from graphene_spark import materialize

        got = {tuple(r) for r in spark.read.parquet(os.path.join(self.out, "triples"))
               .select("subj", "pred", "obj").collect()}
        fails, p, r = triple_failures("build", got, self.expected)
        lin = materialize.read_lineage(spark, os.path.join(self.out, "lineage"))
        done = [row["bucket"] for row in lin.filter("status = 'done'").select("bucket").collect()]
        if sorted(done) != list(range(self.BUCKETS)):
            fails.append(f"build: lineage done rows per bucket {sorted(done)}, "
                         f"expected one for each of {self.BUCKETS}")
        files, size = store_files(self.out)
        n_triples = self.summary["triples"]
        stats = {"precision": p, "recall": r, "files": files, "bytes": size,
                 "bytes_per_triple": size / max(n_triples, 1)}
        shutil.rmtree(self.out, ignore_errors=True)
        return fails, stats


class Ingest(Workload):
    """``streaming.stream_transcripts(..., max_files_per_trigger=1)`` into a
    graph the same stream pre-built during set-up.  Closed loop: the next
    file is dropped into the input directory only after the previous
    micro-batch committed.  Every second file replays turns the graph
    already holds and must insert nothing."""

    name = "ingest"
    merges = True
    check_each = False
    PREBUILT_TURNS = 2000
    FILE_TURNS = 500

    def inputs(self) -> None:
        from graphene_spark import datagen, oracle

        self.dic = datagen.make_entity_dictionary(N_ENTITIES, N_HOT, seed=self.seed)
        self.aliases = [a for al in self.dic["aliases"] for a in al]
        pre = _transcripts(self.PREBUILT_TURNS, self.seed, "pre")
        os.makedirs(self.path("staging"))
        os.makedirs(self.path("input"))
        write_parquet(pre, self.path("staging", "f000.parquet"))
        self.expected = triple_set(oracle.run_oracle(pre, self.dic).triples)
        rng = np.random.RandomState(self.seed)
        self.files = []  # (staged path, kind, turns, oracle triple set)
        for k in range(1, 16):
            if k % 2:
                tx = _transcripts(self.FILE_TURNS, self.seed * 1000 + k, f"f{k:03d}")
                kind = "fresh"
            else:
                convs = pre["conv_id"].unique()
                pick = rng.choice(convs, self.FILE_TURNS // TURNS_PER_CONV, replace=False)
                tx = pre[pre["conv_id"].isin(pick)]
                kind = "replay"
            p = self.path("staging", f"f{k:03d}.parquet")
            write_parquet(tx, p)
            self.files.append((p, kind, len(tx), triple_set(oracle.run_oracle(tx, self.dic).triples)))
        self.query = None

    def prepare(self, spark) -> None:
        from graphene_spark import pipeline

        self.ddf = pipeline.dictionary_to_spark(spark, self.dic)

    def _drop(self, staged: str) -> None:
        # rename is atomic, so the file source never lists a half-written file
        os.replace(staged, os.path.join(self.path("input"), os.path.basename(staged)))

    def start(self, spark) -> None:
        from graphene_spark import streaming

        self._drop(self.path("staging", "f000.parquet"))
        self.query = streaming.stream_transcripts(
            spark, self.path("input"), self.path("out"), self.ddf, self.aliases,
            available_now=False, max_files_per_trigger=1,
        )
        self.query.processAllAvailable()
        self.next_file = 0
        self.batch_kinds = {}  # micro-batch id -> "fresh" | "replay"
        self.batch_turns = {}

    def op(self, spark) -> dict:
        staged, kind, turns, triples = self.files[self.next_file]
        self.next_file += 1
        t0 = time.perf_counter()
        self._drop(staged)
        self.query.processAllAvailable()
        dt = time.perf_counter() - t0
        # one file per micro-batch, closed loop: file k is batch k (batch 0
        # is the pre-built graph)
        self.batch_kinds[self.next_file] = kind
        self.batch_turns[self.next_file] = turns
        if kind == "fresh":
            self.expected |= triples
        return {"seconds": dt, "turns": turns, "batches": [dt]}

    def exhausted(self) -> bool:
        return self.next_file >= len(self.files)

    def job_groups(self) -> list[str]:
        # micro-batches run on the stream's thread, in the group of its run id
        return [str(self.query.runId)]

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def stream_progress(self) -> list[dict]:
        if self.query is None:
            return []
        return [p for p in self.query.recentProgress if p["batchId"] in self.batch_kinds]

    def check(self, spark) -> tuple[list[str], dict]:
        from graphene_spark import materialize

        out = self.path("out")
        lin = materialize.read_lineage(spark, os.path.join(out, "lineage")).collect()
        inserted = {r["bucket"]: r["n_triples"] + r["n_nodes"] + r["n_edges"] for r in lin}
        fails = []
        for b, kind in sorted(self.batch_kinds.items()):
            if b not in inserted:
                fails.append(f"ingest: batch {b} left no lineage row")
            elif kind == "replay" and inserted[b] != 0:
                fails.append(f"ingest: replayed batch {b} inserted {inserted[b]} rows, expected 0")
            elif kind == "fresh" and inserted[b] == 0:
                fails.append(f"ingest: fresh batch {b} inserted nothing")
        tri = spark.read.parquet(os.path.join(out, "triples")).select("subj", "pred", "obj")
        got = {tuple(r) for r in tri.collect()}
        f, p, r = triple_failures("ingest", got, self.expected)
        fails += f
        files, size = store_files(out)
        stats = {"precision": p, "recall": r, "files": files, "bytes": size,
                 "bytes_per_triple": size / max(len(got), 1), "replays": sum(
                     1 for k in self.batch_kinds.values() if k == "replay")}
        return fails, stats


class Scan(Workload):
    """``run_pipeline(...)["triples"]`` over many turns with the 500-entity
    dictionary (broadcast linking): triple-emit throughput, extraction-bound.
    The triples are written out, which forces them."""

    name = "scan"
    N_TURNS = 30000
    WARM_UP_OPS = 4

    def inputs(self) -> None:
        from graphene_spark import datagen, oracle

        self.dic = datagen.make_entity_dictionary(N_ENTITIES, N_HOT, seed=self.seed)
        self.aliases = [a for al in self.dic["aliases"] for a in al]
        tx = _transcripts(self.N_TURNS, self.seed, "s")
        os.makedirs(self.path("transcripts"))
        write_parquet(tx, self.path("transcripts", "part-0.parquet"))
        self.turns = len(tx)
        self.expected = triple_set(oracle.run_oracle(tx, self.dic).triples)
        self.ops = 0

    def prepare(self, spark) -> None:
        from graphene_spark import pipeline

        self.ddf = pipeline.dictionary_to_spark(spark, self.dic)
        self.tdf = spark.read.parquet(self.path("transcripts"))

    def warm_up(self, spark) -> list[str]:
        # the operation keeps getting faster over its first few runs
        fails = []
        for _ in range(self.WARM_UP_OPS):
            fails += super().warm_up(spark)
        return fails

    def op(self, spark) -> dict:
        from graphene_spark import pipeline

        self.ops += 1
        self.out = self.path(f"out-{self.ops}")
        t0 = time.perf_counter()
        res = pipeline.run_pipeline(spark, self.tdf, self.ddf, self.aliases)
        res["triples"].write.parquet(os.path.join(self.out, "triples"))
        dt = time.perf_counter() - t0
        return {"seconds": dt, "turns": self.turns, "batches": [dt]}

    def check(self, spark) -> tuple[list[str], dict]:
        tri = spark.read.parquet(os.path.join(self.out, "triples")).select("subj", "pred", "obj")
        got = {tuple(r) for r in tri.collect()}
        fails, p, r = triple_failures("scan", got, self.expected)
        files, size = store_files(self.out, ("triples",))
        stats = {"precision": p, "recall": r, "files": files, "bytes": size,
                 "bytes_per_triple": size / max(len(got), 1)}
        shutil.rmtree(self.out, ignore_errors=True)
        return fails, stats


class Resolve(Workload):
    """``run_pipeline`` with dictionary canonicalization, LSH fuzzy linking
    and salted linking, forcing ``triples`` and ``nodes`` (written out).

    The dictionary carries duplicate records that share an alias with an
    original entity, and some turns name the duplicate; a share of turns
    carries a corrupted surface form (one extra letter) that the gazetteer
    knows but the dictionary does not, so exact linking misses it and only
    the fuzzy pass can recover it.

    Expected value: the oracle's triples over the UNcorrupted text with the
    duplicates folded into their originals — what exact linking would give
    if no surface form were corrupted.  Without the fuzzy pass recall drops
    by about the corrupted share (below the 0.95 floor); without
    canonicalization the duplicates' names leak into subjects and nodes."""

    name = "resolve"
    N_TURNS = 2000
    N_DUPS = 50
    DUP_TURN_FRAC = 0.5  # of the turns naming a duplicated entity
    CORRUPT_FRAC = 0.12  # of the turns naming an entity

    def inputs(self) -> None:
        from graphene_spark import datagen, oracle

        rng = np.random.RandomState(self.seed)
        dic = datagen.make_entity_dictionary(N_ENTITIES, N_HOT, seed=self.seed)
        dup_ids = sorted(rng.choice(N_ENTITIES, self.N_DUPS, replace=False).tolist())
        dups = pd.DataFrame([
            {"entity_id": 1000 + e, "canonical_name": f"Dup {e:05d}",
             "aliases": [f"Dup {e:05d}", f"ent_{e:05d}"],
             "entity_type": datagen.ENTITY_TYPES[e % len(datagen.ENTITY_TYPES)],
             "is_hot": False}
            for e in dup_ids
        ])
        self.dic = pd.concat([dic, dups], ignore_index=True)
        # the canonical view the expected answer is computed against
        folded = dic.copy()
        folded["aliases"] = [
            list(al) + ([f"Dup {e:05d}"] if e in set(dup_ids) else [])
            for e, al in zip(folded["entity_id"], folded["aliases"])
        ]

        tx = _transcripts(self.N_TURNS, self.seed, "r")
        texts = tx["text"].tolist()
        dup_set = set(dup_ids)
        corrupted, renamed = set(), set()
        for i, text in enumerate(texts):
            m = _ALIAS.search(text)
            if m is None:
                continue
            e = int(m.group(2))
            if e in dup_set and rng.rand() < self.DUP_TURN_FRAC:
                texts[i] = text[: m.start()] + f"Dup {e:05d}" + text[m.end():]
                renamed.add(i)
        clean = tx.assign(text=texts)
        for i, text in enumerate(texts):
            # only the first mention (the turn's subject) is corrupted
            m = _ALIAS.search(text)
            if m is not None and i not in renamed and rng.rand() < self.CORRUPT_FRAC:
                bad = m.group(0) + "abcdefghijklmnopqrstuvwxyz"[rng.randint(26)]
                corrupted.add(bad)
                texts[i] = text[: m.start()] + bad + text[m.end():]
        noisy = tx.assign(text=texts)
        os.makedirs(self.path("transcripts"))
        write_parquet(noisy, self.path("transcripts", "part-0.parquet"))
        self.turns = len(noisy)
        self.aliases = [a for al in self.dic["aliases"] for a in al] + sorted(corrupted)
        self.expected = triple_set(oracle.run_oracle(clean, folded).triples)
        self.exact = triple_set(oracle.run_oracle(noisy, folded).triples)
        self.ops = 0

    def prepare(self, spark) -> None:
        from graphene_spark import pipeline

        self.ddf = pipeline.dictionary_to_spark(spark, self.dic)
        self.tdf = spark.read.parquet(self.path("transcripts"))

    def op(self, spark) -> dict:
        from graphene_spark import pipeline

        self.ops += 1
        self.out = self.path(f"out-{self.ops}")
        t0 = time.perf_counter()
        res = pipeline.run_pipeline(
            spark, self.tdf, self.ddf, self.aliases,
            canonicalize_dictionary=True, fuzzy_threshold=0.4, link_strategy="salted",
        )
        res["triples"].write.parquet(os.path.join(self.out, "triples"))
        res["nodes"].write.parquet(os.path.join(self.out, "nodes"))
        dt = time.perf_counter() - t0
        return {"seconds": dt, "turns": self.turns, "batches": [dt]}

    def check(self, spark) -> tuple[list[str], dict]:
        tri = spark.read.parquet(os.path.join(self.out, "triples")).select("subj", "pred", "obj")
        got = {tuple(r) for r in tri.collect()}
        fails, p, r = triple_failures("resolve", got, self.expected)
        _, r_exact = precision_recall(self.exact, self.expected)
        names = {r["name"] for r in spark.read.parquet(os.path.join(self.out, "nodes"))
                 .select("name").collect()}
        if r_exact >= MIN_PR:
            fails.append(f"resolve: exact linking alone reaches recall {r_exact:.4f}, "
                         "so the inputs do not test fuzzy recovery")
        leaked = sorted(n for n in names | {t[0] for t in got} if n.startswith("Dup "))
        if leaked:
            fails.append(f"resolve: duplicate names not canonicalized: {leaked[:3]}")
        files, size = store_files(self.out, ("triples", "nodes"))
        stats = {"precision": p, "recall": r, "recall_exact_only": r_exact,
                 "files": files, "bytes": size, "bytes_per_triple": size / max(len(got), 1)}
        shutil.rmtree(self.out, ignore_errors=True)
        return fails, stats


WORKLOADS = {w.name: w for w in (Scan, Build, Ingest, Resolve)}
