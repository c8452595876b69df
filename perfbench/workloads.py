"""The benchmark's workloads, driven only through the engine's public calls
(the ones ``tools/coco.py`` makes): ``run_pipeline``, ``StateStore``,
``search_chunks`` and ``operators.graph``; the traced run adds the operator
functions of each pipeline layer and ``plan_pruned_scan``.

Each workload is a closed loop with one client: an operation starts only
after the previous one returned, and operations run until the time budget
is spent (at least one). Every operation's output is checked against an
independent recompute, untimed.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from collections import Counter

import pandas as pd

from perfbench import host, oracles
from perfbench.stats import edit_plan, median, request_plan, self_times, summarize
from perfbench.tracing import TRACED_CONF, Tracer

# Corpus shape. One fixtures.generate run with the repository's standard
# fixture seed (42, as bench.py and the tests use) supplies GEN_CONVS
# conversations over one fixed 80-entity vocabulary, the entity catalog a
# deployment would hold. ``--seed`` picks which N_CONVS of them form the
# corpus (~3k turns) and which POOL_CONVS supply the text of later edits, and
# it drives the edit sequence. The vocabulary stays fixed because the cost of
# canonicalization depends on it: across generator seeds its connected-
# components loop ran 30 to 58 jobs (3 to 36 s), so per-seed vocabularies
# made the build time bimodal across runs.
VOCAB_SEED = 42
# The refresh workload starts every run from one base store per checkout,
# built from the corpus of this seed; the run's seed drives the edits.
REFRESH_BASE_SEED = 0
GEN_CONVS = 240
N_CONVS = 120
POOL_CONVS = 24
N_FILES = 12
AVG_TURNS = 25
N_ENTITIES = 80
HOT_FRACTION = 0.05
ROW_GROUP_ROWS = 4096
# Traversal depth of tree / impact requests.
DEPTH = 3
# Edits generated per refresh run; a run stops at its time budget first.
MAX_EDITS = 64
# Requests the traced run makes after its loop: search, traversal, related.
TRACED_REQUESTS = 3


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            if not name.endswith(".crc"):
                total += os.path.getsize(os.path.join(root, name))
    return total


class Corpus:
    """A seeded transcript corpus on disk: ``N_FILES`` parquet files of whole
    conversations, plus the held-back pool edits draw from. With ``write``
    false the files are taken to be on disk already (a restored base)."""

    def __init__(self, seed: int, directory: str, write: bool = True):
        # the engine's modules are imported here too, off the main thread,
        # while the JVM starts
        import coco_search_spark.pipeline  # noqa: F401
        from coco_search_spark import fixtures

        fx = fixtures.generate(
            n_conversations=GEN_CONVS,
            avg_turns=AVG_TURNS,
            n_entities=N_ENTITIES,
            seed=VOCAB_SEED,
            hot_fraction=HOT_FRACTION,
        )
        self.dir = directory
        self.catalog_path = os.path.join(os.path.dirname(directory), "catalog.parquet")
        if write:
            os.makedirs(directory, exist_ok=True)
            fixtures.entity_catalog_pdf(fx.entities).to_parquet(self.catalog_path, index=False)
        # canonical triples per (conv_id, turn_idx)
        self.truth: dict[tuple, list] = {}
        for g in fx.ground_truth.itertuples():
            self.truth.setdefault((g.conv_id, g.turn_idx), []).append(
                (g.subj, g.pred, g.obj)
            )
        ids = sorted(fx.transcripts["conv_id"].unique())
        random.Random(f"corpus:{seed}").shuffle(ids)
        by_conv = dict(iter(fx.transcripts.groupby("conv_id", sort=False)))
        self.files = {
            f: pd.concat([by_conv[c] for c in ids[f:N_CONVS:N_FILES]], ignore_index=True)
            for f in range(N_FILES)
        }
        self.pool_convs = [by_conv[c] for c in ids[N_CONVS:N_CONVS + POOL_CONVS]]
        self.pool_turns = [
            r for conv in self.pool_convs for r in conv.itertuples(index=False)
        ]
        self._next_turn = 0
        self._next_conv = 0
        if write:
            for f in self.files:
                self._write(f)
        # what the store must hold, kept up to date by apply()
        self.edges: set[tuple] = set()
        self.triples: set[tuple] = set()
        for frame in self.files.values():
            self._expect(frame)

    def start_edits(self, seed: int) -> None:
        """Start drawing edit text at a seeded place in the pool."""
        rng = random.Random(f"pool:{seed}")
        self._next_turn = rng.randrange(len(self.pool_turns))
        self._next_conv = rng.randrange(len(self.pool_convs))

    def path(self, f: int) -> str:
        return os.path.join(self.dir, f"part-{f:04d}.parquet")

    def _write(self, f: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        tmp = self.path(f) + ".tmp"
        pq.write_table(
            pa.Table.from_pandas(self.files[f], preserve_index=False),
            tmp,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
            row_group_size=ROW_GROUP_ROWS,
        )
        os.replace(tmp, self.path(f))

    def apply(self, edit: dict) -> list[str]:
        """Apply one ``edit_plan`` edit on disk; returns the files written."""
        if edit["kind"] == "append":
            targets = edit["files"]
            for f in targets:
                frame = self.files[f]
                rows = []
                for conv_id, turns in frame.groupby("conv_id", sort=True)["turn_idx"]:
                    nxt = int(turns.max()) + 1
                    for i in range(edit["turns"]):
                        src = self.pool_turns[self._next_turn % len(self.pool_turns)]
                        self._next_turn += 1
                        row = src._asdict()
                        self.truth[(conv_id, nxt + i)] = self.truth.get(
                            (src.conv_id, src.turn_idx), []
                        )
                        rows.append({**row, "conv_id": conv_id, "turn_idx": nxt + i})
                added = pd.DataFrame(rows, columns=frame.columns)
                self._expect(added)
                self.files[f] = pd.concat([frame, added], ignore_index=True)
        else:
            f = len(self.files)
            take = []
            for _ in range(edit["convs"]):
                conv = self.pool_convs[self._next_conv % len(self.pool_convs)].copy()
                new_id = f"new-{self._next_conv:05d}"
                self._next_conv += 1
                for t in conv["turn_idx"]:
                    self.truth[(new_id, t)] = self.truth.get((conv["conv_id"].iloc[0], t), [])
                take.append(conv.assign(conv_id=new_id))
            self.files[f] = pd.concat(take, ignore_index=True)
            self._expect(self.files[f])
            targets = [f]
        for f in targets:
            self._write(f)
        return [self.path(f) for f in targets]

    def _expect(self, frame) -> None:
        """Add the rows of ``frame`` to the expected outputs: canonical edge
        triples from the generator's ground truth, surface triples from the
        reference extractor."""
        from coco_search_spark.reference_extractor import extract_reference

        self.triples.update(extract_reference(frame).itertuples(index=False, name=None))
        for key in zip(frame["conv_id"], frame["turn_idx"]):
            self.edges.update(self.truth.get(key, ()))

    def nbytes(self) -> int:
        return sum(os.path.getsize(self.path(f)) for f in self.files)


class Bench:
    """One benchmark run: session, corpus, store handles, samples, spans."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str, live: str | None):
        self.live = live
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer()
        self.spark = None
        self.samples: dict[str, list[float]] = {
            "pipeline": [], "search": [], "traverse": [], "related": []
        }
        # operation trace id → first failure; an operation fails at most once
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.pipeline_metrics: list[dict] = []
        self.n_stores = 0
        self._indexes: dict[tuple, tuple] = {}
        self.t_first_op = None

    # ---- session ------------------------------------------------------
    def start(self, cores: int) -> None:
        from coco_search_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # splittable scans, as bench.py sets them
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
        }
        if self.trace:
            conf.update(TRACED_CONF)
        with self.tracer.span("session.get_spark", "setup"):
            self.spark = get_spark(
                cores,
                app_name=host.APP_NAME,
                shuffle_partitions=max(cores, 8),
                extra_conf=conf,
            )
        if self.trace:
            self.tracer.attach(self.spark)

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    # ---- helpers ------------------------------------------------------
    def live_store(self) -> dict:
        """The refresh workload's store, at the fixed path its base was built at."""
        base = os.path.join(self.live, "store")
        return {"state": os.path.join(base, "state"), "out": os.path.join(base, "out")}

    def fresh_store(self) -> dict:
        self.n_stores += 1
        base = os.path.join(self.work, f"store{self.n_stores}")
        return {"state": os.path.join(base, "state"), "out": os.path.join(base, "out")}

    def drop_store(self, store: dict) -> None:
        shutil.rmtree(os.path.dirname(store["state"]), ignore_errors=True)

    def catalog(self, corpus: Corpus):
        return self.spark.read.parquet(corpus.catalog_path)

    def fail(self, trace_id: str, what: str) -> None:
        self.failures.setdefault(trace_id, what[:500])

    def begin_timed(self) -> None:
        if self.t_first_op is None:
            self.t_first_op = time.perf_counter()

    def time_left(self) -> bool:
        return time.perf_counter() - self.t_first_op < self.seconds

    # ---- operations ---------------------------------------------------
    def pipeline(self, corpus: Corpus, store: dict, trace_id: str, timed: bool):
        """One ``run_pipeline`` over the corpus directory, as ``coco index``
        runs it. Returns the PipelineResult, or None when it raised."""
        from coco_search_spark.pipeline import run_pipeline

        if timed:
            self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("pipeline.run_pipeline", trace_id):
                res = run_pipeline(
                    self.spark,
                    self.spark.read.parquet(corpus.dir),
                    catalog=self.catalog(corpus),
                    out_dir=store["out"],
                    state_dir=store["state"],
                )
        except Exception as exc:  # a failed operation is counted, not fatal
            if not timed:
                raise
            self.fail(trace_id, f"run_pipeline raised {exc!r}")
            return None
        wall = time.perf_counter() - t0
        if timed:
            self.samples["pipeline"].append(wall)
            self.pipeline_metrics.append(res.metrics)
        self.inspect_state(store, trace_id)
        return res

    def inspect_state(self, store: dict, trace_id: str) -> None:
        from coco_search_spark.state import StateStore

        st = StateStore(store["state"])
        with self.tracer.span("state.snapshots", trace_id) as sp:
            sp["n_snapshots"] = len(st.snapshots())
            files = st.files()
        sp["parts"] = sum(1 for r in files if r["kind"] in ("facts", "chunks", "edges"))
        sp["store_bytes"] = sum(r["bytes"] for r in files)

    def _read(self, store: dict, kind: str, trace_id: str):
        from coco_search_spark.state import StateStore

        with self.tracer.span("state.read_table", trace_id, table=kind):
            return StateStore(store["state"]).read_table(self.spark, kind)

    def _index(self, store: dict):
        """Oracle inputs of the store's current version, collected once."""
        from coco_search_spark.state import StateStore
        from pyspark.sql import functions as F

        key = (store["state"], StateStore(store["state"]).last_snapshot()["version"])
        if key not in self._indexes:
            chunks = self._read(store, "chunks", "oracle").select(
                F.concat_ws("#", "conv_id", "turn_idx", "seg_idx").alias("chunk_id"),
                "tsv_input",
                "embedding",
            )
            edges = self._read(store, "edges", "oracle").select("subj_id", "obj_id")
            with self.tracer.span("bench.oracle_index", "oracle"):
                pdf = chunks.toPandas()
                self._indexes = {
                    key: (
                        oracles.ChunkIndex(
                            list(zip(pdf["chunk_id"], pdf["tsv_input"], pdf["embedding"]))
                        ),
                        [tuple(r) for r in edges.collect()],
                    )
                }
        return self._indexes[key]

    def request(self, store: dict, kind: str, arg: str, trace_id: str) -> None:
        """One CLI-equivalent request, timed, then checked untimed."""
        from pyspark.sql import functions as F

        from coco_search_spark.operators import graph

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if kind == "search":
                from coco_search_spark.search import search_chunks

                chunks = self._read(store, "chunks", trace_id).withColumn(
                    "chunk_id", F.concat_ws("#", "conv_id", "turn_idx", "seg_idx")
                )
                with self.tracer.span("search.search_chunks", trace_id) as sp:
                    rows = search_chunks(chunks, arg, k=oracles.SEARCH_K).collect()
            else:
                edges = self._read(store, "edges", trace_id)
                roots = self.spark.createDataFrame([(arg,)], "node string")
                name = {
                    "tree": "transitive_tree",
                    "impact": "blast_radius",
                    "related": "personalized_pagerank",
                }[kind]
                with self.tracer.span(f"graph.{name}", trace_id) as sp:
                    if kind == "tree":
                        df = graph.transitive_tree(edges, roots, max_depth=DEPTH)
                        df = df.orderBy("depth", "node")
                    elif kind == "impact":
                        df = graph.blast_radius(edges, roots, max_depth=DEPTH)
                    else:
                        df = (
                            graph.personalized_pagerank(edges, roots)
                            .join(roots, "node", "left_anti")
                            .filter(F.col("rank") > 0)
                            .orderBy(F.desc("rank"), "node")
                            .limit(oracles.RELATED_TOP)
                        )
                    rows = df.collect()
            sp["rows_out"] = len(rows)
        except Exception as exc:  # a failed request is counted, not fatal
            self.fail(trace_id, f"{kind} {arg!r} raised {exc!r}")
            return
        wall = time.perf_counter() - t0
        self.samples[kind if kind in ("search", "related") else "traverse"].append(wall)
        index, edge_rows = self._index(store)
        got = [tuple(r) for r in rows]
        if kind == "search":
            ok = oracles.same_search(got, index.search(arg))
        elif kind == "tree":
            ok = set(got) == oracles.tree(edge_rows, arg, DEPTH)
        elif kind == "impact":
            ok = set(got) == oracles.impact(edge_rows, arg, DEPTH)
        else:
            ok = oracles.same_ranks(got, oracles.related(edge_rows, arg))
        if not ok:
            self.fail(trace_id, f"{kind} {arg!r} differs from the recompute")

    # ---- checks -------------------------------------------------------
    def check_build(self, res, corpus: Corpus, trace_id: str) -> None:
        """Edges resolve to the generator's canonical triples, and extracted
        triples match the reference extractor exactly (P = R = 1)."""
        got_edges = {
            tuple(r) for r in res.edges.select("subj_id", "pred", "obj_id").distinct().collect()
        }
        if got_edges != corpus.edges:
            self.fail(trace_id, "edge triples differ from the ground truth")
        got = {
            tuple(r)
            for r in res.triples.select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
        }
        if got != corpus.triples:
            self.fail(trace_id, "triples differ from the reference extractor")

    def check_store(self, store: dict, corpus: Corpus, trace_id: str) -> None:
        """The store read back as a user reads it matches the corpus: triple
        facts = reference extractor, edge triples = ground truth, one edge
        per triple fact, node degrees = edge counts."""
        from pyspark.sql import functions as F

        facts = self._read(store, "facts", "check").filter(F.col("kind") == "triple")
        rows = [
            tuple(r)
            for r in facts.select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
        ]
        if len(rows) != len(set(rows)) or set(rows) != corpus.triples:
            self.fail(trace_id, "stored triple facts differ from the reference extractor")
        edges = [
            tuple(r)
            for r in self._read(store, "edges", "check")
            .select("subj_id", "pred", "obj_id")
            .collect()
        ]
        if len(edges) != len(rows) or set(edges) != corpus.edges:
            self.fail(trace_id, "stored edges differ from the ground truth")
        out_deg = Counter(e[0] for e in edges if e[0] is not None)
        in_deg = Counter(e[2] for e in edges if e[2] is not None)
        nodes = self.spark.read.parquet(os.path.join(store["out"], "nodes")).collect()
        for n in nodes:
            if (n["out_degree"], n["in_degree"]) != (out_deg[n["entity_id"]], in_deg[n["entity_id"]]):
                self.fail(trace_id, f"node {n['entity_id']} degree differs from its edges")
                break
        if not set(out_deg) | set(in_deg) <= {n["entity_id"] for n in nodes}:
            self.fail(trace_id, "an edge endpoint has no node")

    def check_warm_equals_cold(self, store: dict, corpus: Corpus, trace_id: str) -> None:
        """Facts, edges and nodes of the refreshed store equal those of a
        from-scratch build of the final corpus in a fresh store."""
        cold = self.fresh_store()
        self.pipeline(corpus, cold, "cold-reference", timed=False)

        def rows(st, kind):
            if kind == "nodes":
                df = self.spark.read.parquet(os.path.join(st["out"], "nodes"))
            else:
                df = self._read(st, kind, "check")
            return sorted(
                json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
                for r in df.collect()
            )

        for kind in ("facts", "edges", "nodes"):
            if rows(store, kind) != rows(cold, kind):
                self.fail(trace_id, f"warm {kind} differ from a cold build of the final corpus")
        self.drop_store(cold)

    # ---- traced-run extras --------------------------------------------
    def layer_pass(self, corpus: Corpus, transcripts, trace_id: str) -> dict:
        """The pipeline's layers called one by one over ``transcripts``, each
        forced by ``localCheckpoint`` so its span holds its own jobs."""
        from pyspark.sql import functions as F

        from coco_search_spark.operators.canonicalize import (
            candidate_pairs,
            canonicalize_surfaces,
        )
        from coco_search_spark.operators.extract import extract_all, split_extracted
        from coco_search_spark.operators.linking import link_surfaces
        from coco_search_spark.operators.materialize import (
            build_nodes,
            resolve_edges,
            write_edges,
            write_nodes,
        )
        from coco_search_spark.operators.segments import segment_turns

        out_dir = os.path.join(self.work, "layers-out")
        tr = self.tracer
        info = {}
        with tr.span("layers.pass", trace_id):
            with tr.span("segments.segment_turns", trace_id):
                segments = segment_turns(transcripts, with_offsets=True).localCheckpoint(
                    eager=True
                )
            with tr.span("extract.extract_all", trace_id):
                facts = extract_all(segments).localCheckpoint(eager=True)
                triples, standalone, bindings = split_extracted(facts)
                surfaces = (
                    triples.select(F.col("subj").alias("surface"))
                    .unionByName(triples.select(F.col("obj").alias("surface")))
                    .unionByName(standalone.select(F.col("mention").alias("surface")))
                    .unionByName(bindings.select(F.col("target").alias("surface")))
                    .unionByName(bindings.select(F.col("alias").alias("surface")))
                    .distinct()
                    .localCheckpoint(eager=True)
                )
            with tr.span("linking.link_surfaces", trace_id):
                links = link_surfaces(
                    surfaces.select(F.col("surface").alias("mention")), self.catalog(corpus)
                ).localCheckpoint(eager=True)
            binding_edges = bindings.select(
                F.col("target").alias("a"), F.col("alias").alias("b")
            ).distinct()
            with tr.span("canonicalize.canonicalize_surfaces", trace_id):
                canon = canonicalize_surfaces(
                    surfaces, extra_edges=binding_edges
                ).localCheckpoint(eager=True)
            with tr.span("materialize.write", trace_id):
                link_map = (
                    canon.join(
                        links.select(F.col("mention").alias("surface"), "entity_id"),
                        "surface",
                        "left",
                    )
                    .select(
                        F.col("surface").alias("mention"),
                        F.coalesce("entity_id", "canon_id").alias("canon_id"),
                    )
                )
                edges = resolve_edges(triples, link_map, links_small=True).localCheckpoint(
                    eager=True
                )
                write_edges(edges, os.path.join(out_dir, "edges"), sort_by_conv=True)
                write_nodes(build_nodes(edges), out_dir)
        # counts, outside the layer spans
        pairs = candidate_pairs(surfaces).collect()
        label = {r["surface"]: r["canon_id"] for r in canon.collect()}
        info["segments.rows_out"] = segments.count()
        info["extract.facts_out"] = facts.count()
        info["linking.surfaces_in"] = len(label)
        info["linking.linked_frac"] = (
            links.filter(F.col("entity_id").isNotNull()).count() / max(1, len(label))
        )
        info["canonicalize.candidate_pairs"] = len(pairs)
        info["canonicalize.merge_yield"] = sum(
            1 for p in pairs if label.get(p["a"]) == label.get(p["b"])
        ) / max(1, len(pairs))
        info["materialize.bytes_written"] = _du(out_dir)
        shutil.rmtree(out_dir, ignore_errors=True)
        return info

    def pruned_scan(self, corpus: Corpus, store: dict, trace_id: str) -> None:
        """``plan_pruned_scan`` on the next run's inputs, as the pipeline
        calls it; the span records the share of input files it would read
        (1.0 when it declines and the run scans everything)."""
        from coco_search_spark.operators.scan_pruning import (
            input_manifest,
            plan_pruned_scan,
        )
        from coco_search_spark.state import StateStore

        st = StateStore(store["state"])
        snap = st.last_snapshot() or {}
        df = self.spark.read.parquet(corpus.dir)
        with self.tracer.span("scan_pruning.plan_pruned_scan", trace_id) as sp:
            cur = input_manifest(df)
            plan = None
            if snap:
                plan = plan_pruned_scan(
                    self.spark,
                    df,
                    cur,
                    snap.get("input_manifest"),
                    st.read(self.spark),
                    src_files_complete=bool(snap.get("src_files_complete")),
                )
        sp["files_scanned_frac"] = (
            1.0 if plan is None else len(plan.scanned_files) / plan.n_files_total
        )


# ---- workloads ----------------------------------------------------------


def _requests(b: Bench, store: dict, n: int):
    """The seeded request sequence over the store's own vocabulary: roots are
    its node ids, query terms their words."""
    nodes = b.spark.read.parquet(os.path.join(store["out"], "nodes"))
    roots = sorted(r["entity_id"] for r in nodes.select("entity_id").collect())
    terms = [r.replace("_", " ") for r in roots]
    return request_plan(b.seed, n, terms, roots)


def workload_build(b: Bench, corpus: Corpus) -> dict:
    """Cold builds of the whole corpus, each into a fresh store, the first
    one in a fresh process, as ``coco index`` runs."""
    store = None
    b.begin_timed()
    i = 0
    while True:
        if store is not None:
            b.drop_store(store)
        store = b.fresh_store()
        tid = f"op{i}"
        res = b.pipeline(corpus, store, tid, timed=True)
        if res is None:
            break
        with b.tracer.span("bench.check", tid):
            b.check_build(res, corpus, tid)
        i += 1
        if not b.time_left():
            break
    return {"store": store, "layer_input": [corpus.dir], "last_op": tid, "next_edit": None}


def workload_refresh(b: Bench, corpus: Corpus) -> dict:
    """A seeded edit sequence on the restored base store, each edit followed
    by a warm ``run_pipeline`` on the same store. The first runs in a fresh
    process, as ``coco index`` does after files change."""
    store = b.live_store()
    corpus.start_edits(b.seed)
    b.begin_timed()
    changed: list[str] = []
    edits = iter(edit_plan(b.seed, MAX_EDITS, N_FILES))
    for i, edit in enumerate(edits):
        tid = f"op{i}"
        changed = corpus.apply(edit)
        if b.pipeline(corpus, store, tid, timed=True) is None:
            break
        if not b.time_left():
            break
    with b.tracer.span("bench.check", tid):
        b.check_store(store, corpus, tid)
    return {"store": store, "layer_input": changed, "last_op": tid, "next_edit": next(edits, None)}


def build_refresh_base(b: Bench, corpus: Corpus) -> None:
    """Cold-build the refresh workload's base store at its fixed path."""
    store = b.live_store()
    b.pipeline(corpus, store, "base", timed=False)
    b.check_store(store, corpus, "base")
    if b.failures:
        raise RuntimeError(f"refresh base store is wrong: {b.failures}")


WORKLOADS = {"build": workload_build, "refresh": workload_refresh}


# ---- metrics ------------------------------------------------------------


def _frac(values: list[bool]) -> float:
    return sum(values) / len(values) if values else 0.0


def layer_metrics(b: Bench, info: dict, cores: int) -> dict:
    """Per-layer metrics from the traced run's spans."""
    tr = b.tracer
    timed = [s for s in tr.spans if s["trace"].startswith("op")]

    def per_op(name: str) -> dict:
        picked = [s for s in timed if s["name"] == name]
        n = max(1, len(picked))
        out = {"s": sum(s["end"] - s["start"] for s in picked) / n}
        for key in ("jobs", "unlabeled_jobs", "tasks", "cpu_ns", "input_records",
                    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes", "rows_out", "files_scanned_frac"):
            out[key] = sum(s.get(key, 0) for s in picked) / n
        return out

    def span_of(name: str) -> dict:
        return next(s for s in tr.spans if s["name"] == name)

    m = {}
    p = per_op("pipeline.run_pipeline")
    m.update({
        "pipeline.s": p["s"],
        "pipeline.jobs": p["jobs"],
        "pipeline.unlabeled_jobs": p["unlabeled_jobs"],
        "pipeline.tasks": p["tasks"],
        "pipeline.executor_cpu_s": p["cpu_ns"] / 1e9,
        "pipeline.core_util": p["cpu_ns"] / 1e9 / (p["s"] * cores),
        "pipeline.shuffle_write_bytes": p["shuffle_write_bytes"],
        "pipeline.spill_bytes": p["spill_bytes"],
    })
    sess = span_of("session.get_spark")
    m["session.start_s"] = sess["end"] - sess["start"]
    for layer, name in (
        ("segments", "segments.segment_turns"),
        ("extract", "extract.extract_all"),
        ("linking", "linking.link_surfaces"),
        ("canonicalize", "canonicalize.canonicalize_surfaces"),
        ("materialize", "materialize.write"),
    ):
        s = span_of(name)
        m[f"{layer}.s"] = s["end"] - s["start"]
        m[f"{layer}.jobs"] = s["jobs"]
        if layer in ("extract", "linking"):
            m[f"{layer}.executor_cpu_s"] = s["cpu_ns"] / 1e9
    m.update(info)
    m["layers.sum_s"] = sum(
        m[f"{k}.s"] for k in ("segments", "extract", "linking", "canonicalize", "materialize")
    )
    m["layers.gap_s"] = m["pipeline.s"] - m["layers.sum_s"]
    sp = per_op("scan_pruning.plan_pruned_scan")
    m["scan_pruning.s"] = sp["s"]
    m["scan_pruning.jobs"] = sp["jobs"]
    m["scan_pruning.files_scanned_frac"] = sp["files_scanned_frac"]
    pm = b.pipeline_metrics
    m["link_state.reuse_frac"] = sum(x["n_links_reused"] or 0 for x in pm) / max(
        1, sum((x["n_links_reused"] or 0) + (x["n_links_fresh"] or 0) for x in pm)
    )
    m["vocab_state.delta_frac"] = _frac([x["vocab_mode"] == "delta" for x in pm])
    m["canonicalize.reuse_frac"] = _frac([bool(x["canon_reused"]) for x in pm])
    m["materialize.node_delta_frac"] = _frac([x["nodes_mode"] != "full" for x in pm])
    rt = per_op("state.read_table")
    m["state.read_table_s"] = rt["s"]
    m["state.read_table_jobs"] = rt["jobs"]
    snaps = [s for s in timed if s["name"] == "state.snapshots"]
    m["state.snapshots_s"] = median([s["end"] - s["start"] for s in snaps])
    m["state.parts"] = snaps[-1]["parts"]
    m["state.store_bytes"] = snaps[-1]["store_bytes"]
    se = per_op("search.search_chunks")
    m.update({
        "search.s": se["s"],
        "search.jobs": se["jobs"],
        "search.tasks": se["tasks"],
        "search.rows_scanned_per_result": se["input_records"] / max(1.0, se["rows_out"]),
        "search.bytes_read": se["input_bytes"],
    })
    graph_spans = [s for s in timed if s["name"].startswith("graph.")]
    n = max(1, len(graph_spans))
    m.update({
        "graph.s": sum(s["end"] - s["start"] for s in graph_spans) / n,
        "graph.jobs": sum(s["jobs"] for s in graph_spans) / n,
        "graph.shuffle_bytes": sum(s["shuffle_write_bytes"] for s in graph_spans) / n,
        "graph.rows_out": sum(s.get("rows_out", 0) for s in graph_spans) / n,
    })
    for kind in ("search", "traverse", "related"):
        m[f"trace.{kind}_s"] = median(b.samples[kind])
    m["trace.harvest_s"] = tr.harvest_s
    return m


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        t_process: float, live: str) -> dict:
    """Run one workload in this process; returns the result record. ``live``
    is the fixed directory of the refresh workload's corpus and store;
    workload ``refresh-base`` builds them there."""
    from concurrent.futures import ThreadPoolExecutor

    cores = len(os.sched_getaffinity(0))
    cpu0 = host.cpu_times()
    b = Bench(seed, seconds, trace, work, live)
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace}
    if workload == "build":
        corpus_args = (seed, os.path.join(work, "corpus"), True)
    else:
        corpus_args = (REFRESH_BASE_SEED, os.path.join(live, "corpus"), workload != "refresh")
    try:
        # the corpus is plain Python: generate it while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            corpus_f = pool.submit(Corpus, *corpus_args)
            b.start(cores)
            record["jvm_pid"] = b.jvm_pid()
            with b.tracer.span("bench.corpus", "setup"):
                corpus = corpus_f.result()
        if workload == "refresh-base":
            build_refresh_base(b, corpus)
            return record
        out = WORKLOADS[workload](b, corpus)
        store = out["store"]
        store_ratio = (_du(store["state"]) + _du(store["out"])) / corpus.nbytes()
        if trace:
            if workload == "refresh":
                b.check_warm_equals_cold(store, corpus, out["last_op"])
            for k, (kind, arg) in enumerate(_requests(b, store, TRACED_REQUESTS)):
                b.request(store, kind, arg, f"op-request{k}")
            transcripts = b.spark.read.parquet(*out["layer_input"])
            info = b.layer_pass(corpus, transcripts, "layers")
            # scan pruning as the next run would plan it, after the timed
            # loop so its warm-up cannot shorten a timed run: the next edit
            # on refresh, an empty store (where it declines) on build
            if out["next_edit"] is not None:
                corpus.apply(out["next_edit"])
                b.pruned_scan(corpus, store, "op-probe")
            else:
                b.pruned_scan(corpus, b.fresh_store(), "op-probe")
        rss = host.peak_rss_mb(record["jvm_pid"])
        record["host"] = {
            **host.host_fingerprint(),
            "java": b.spark._jvm.java.lang.System.getProperty("java.version"),
            "spark": b.spark.version,
            "cores_used": cores,
        }
        record["samples"] = {k: summarize(v) for k, v in b.samples.items()}
        record["pipeline_metrics"] = b.pipeline_metrics
        record["end_to_end"] = {
            "setup_s": b.t_first_op - t_process,
            "pipeline_s": median(b.samples["pipeline"]),
            "peak_rss_mb": rss,
            "store_bytes_per_input_byte": store_ratio,
        }
        if trace:
            record["per_layer"] = layer_metrics(b, info, cores)
        for span, own in zip(b.tracer.spans, self_times(b.tracer.spans).values()):
            span["self_s"] = own
        record["spans"] = b.tracer.spans
    finally:
        record["steal_pct"] = host.steal_pct(cpu0, host.cpu_times())
        if b.spark is not None:
            b.spark.stop()
    record["failures"] = b.failures
    record["attempted"] = b.attempted
    return record
