"""End-to-end KG-construction pipeline.

transcripts → segment → extract triples → link mentions (hybrid RRF) →
canonicalize (LSH + connected components) → materialize node/edge tables,
with per-stage state commits so a killed run resumes from the last snapshot.

This is the Spark re-expression of the reference's ``run_index`` driver loop
(reference: flow.py:236-511 — validate → preflight → diff → per-file chunk/
embed/extract/upsert → delete removed → parse-tracking) as ONE declarative
DAG per stage, not a Python loop over files. Incremental semantics follow
the reference's correctness rule: extraction is per-conversation
incremental, linking + canonicalization re-run globally
(extractor.py:8-12, 374-399).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coco_search_spark.operators.canonicalize import canonicalize_surfaces
from coco_search_spark.operators.extract import (
    extract_all,
    split_extracted,
)
from coco_search_spark.operators.linking import link_surfaces
from coco_search_spark.operators.materialize import build_nodes, resolve_edges
from coco_search_spark.operators.segments import segment_turns
from coco_search_spark.operators.validate import split_quarantine
from coco_search_spark.state import StateStore, conversation_hashes, diff_against_state

# Vocabulary size under which the link/vector tables get an explicit
# broadcast hint in the pipeline (they certainly fit: ≤ a few hundred MB).
# Above it — the 10^9-distinct-surface contingency in SCALE.md — no hint
# is forced and every join keeps its sort-merge fallback (AQE may still
# broadcast if runtime sizes allow). The count used for the gate is the
# n_surfaces metric the pipeline computes anyway.
BROADCAST_SURFACE_LIMIT = 5_000_000

# Max replaced-conversation ids collected to the driver for the pushed
# `conv_id isin(...)` predicate on the previous-edges fetch (~100 bytes/id
# → ≤ ~10 MB driver-side). Above it the fetch keeps the semi-join form
# (reads the edge parts in full — correct, just not row-group-pruned).
EDGE_FETCH_PUSHDOWN_LIMIT = 100_000


@contextmanager
def _job_description(spark: SparkSession, label: str):
    """Label the Spark jobs this thread starts inside the block. The label
    is cleared in ``finally``: background thunks run on pooled threads, and
    a job that raises must not leave its label on the next thunk's jobs."""
    sc = spark.sparkContext
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setJobDescription(None)


def _parts_ok(parts: list[dict] | None) -> bool:
    return bool(parts) and all(os.path.exists(p["path"]) for p in parts)


def _reload_parts(
    spark: SparkSession,
    parts: list[dict],
    unchanged_ids: DataFrame,
    stored: DataFrame,
) -> DataFrame:
    """Current rows of a delta-written table restricted to the unchanged
    conversations. A conversation's authoritative rows live in the part
    whose version equals its ``written_version`` state column (stale rows
    of since-changed conversations in older parts are thereby skipped);
    with a single part — cold run or fresh compaction — the part IS the
    full table and no version resolution is needed."""
    if len(parts) == 1:
        return spark.read.parquet(parts[0]["path"]).join(
            unchanged_ids, "conv_id", "left_semi"
        )
    versions = stored.select("conv_id", "written_version").join(
        unchanged_ids, "conv_id", "left_semi"
    )
    out = None
    for p in parts:
        rows = spark.read.parquet(p["path"]).join(
            versions.filter(F.col("written_version") == p["version"]).select(
                "conv_id"
            ),
            "conv_id",
            "left_semi",
        )
        # allowMissingColumns: parts written by different engine versions
        # may differ in columns (same evolution rule as ensure_columns)
        out = rows if out is None else out.unionByName(rows, allowMissingColumns=True)
    return out


@dataclass
class PipelineResult:
    triples: DataFrame
    links: DataFrame
    canon: DataFrame
    edges: DataFrame
    nodes: DataFrame
    metrics: dict


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog: DataFrame | None = None,
    out_dir: str | None = None,
    state_dir: str | None = None,
    embed_dim: int = 64,
    config: "EngineConfig | None" = None,
    upsert_only: bool = False,
    branch: str | None = None,
) -> PipelineResult:
    """Full batch run. When ``state_dir`` is given, unchanged conversations
    (same content hash as the stored state) skip extraction; triples for
    them are reloaded from the previous materialized output, while linking /
    canonicalization always re-run globally over the merged triple set.

    ``config``: an EngineConfig carrying every tunable (load one with
    ``EngineConfig.from_file``); when given it wins over the ``embed_dim``
    argument. Each state commit stamps the config identity hash (plus
    engine/grammar versions) into the manifest, and a resume whose stored
    facts were produced under a DIFFERENT config identity warns and falls
    back to a full re-extract — mixing facts from two configs in one
    snapshot would be silently wrong (provenance rule; reference:
    management/metadata.py:29-50, management/git.py).

    ``upsert_only``: the input is a PARTIAL corpus — new and changed
    conversations only (a streaming micro-batch, a partner drop, a
    backfill shard). Conversations in the stored state but absent from the
    input are CARRIED (content hash, lineage, version pointers — all kept)
    instead of read as deletions; nothing is ever deleted by an upsert
    run. Granularity is the conversation: a conversation present in the
    input replaces its stored rows entirely, so each batch must carry
    whole conversations, not turn fragments. Scan pruning is skipped and
    no input manifest is recorded — a partial input's file set must not
    become the next run's pruning baseline (the next full-corpus run
    simply re-hashes; correct, just not file-pruned).

    ``branch``: commit this run to a named branch (``StateStore.
    create_branch`` first) instead of main — the write-audit-publish
    staging pattern (Iceberg ``spark.wap.branch``). The run resumes from
    the BRANCH head (diff, reuse gates, part resolution all against it),
    writes its part dirs under globally-unique versions, and advances only
    the branch pointer; main's readers see nothing until
    ``StateStore.publish`` fast-forwards main after audit.
    """
    import time as _time

    from coco_search_spark.config import EngineConfig

    cfg = config if config is not None else EngineConfig(embed_dim=embed_dim)
    cfg.validate()
    cfg_hash = cfg.config_hash()
    embed_dim = cfg.embed_dim

    timings: dict[str, float] = {}
    _t0 = _time.perf_counter()

    def _stamp(name: str) -> None:
        nonlocal _t0
        now = _time.perf_counter()
        timings[name] = round(now - _t0, 2)
        _t0 = now

    # fine-grained sub-stage attribution (SPARK_GRAFT_FINE_STAMPS=1): each
    # mark records the time since the previous mark as f_<name> — used by
    # tools/profile_incr.py to attribute the warm-run floor job by job
    _fine_on = bool(os.environ.get("SPARK_GRAFT_FINE_STAMPS"))
    _tf = [_time.perf_counter()]

    def _fine(name: str) -> None:
        if not _fine_on:
            return
        now = _time.perf_counter()
        timings["f_" + name] = round(now - _tf[0], 3)
        _tf[0] = now

    raw_transcripts = transcripts
    if branch is not None and not state_dir:
        raise ValueError("branch= requires state_dir (branches live in the store)")
    store = StateStore(state_dir, ref=branch) if state_dir else None
    snap = store.last_snapshot() if store else None
    # staleness metric (stats.py:642 analog): age of the state we resume
    # from, surfaced BEFORE this run commits a fresh snapshot
    snapshot_age = store.staleness_seconds() if store else None
    # cached: the state table is consulted by scan pruning, the diff, part
    # reloads, and the pointer join — conversation-count-sized (one row per
    # conversation, no content), so pinning it is cheap and saves a parquet
    # re-read per consumer
    stored = store.read(spark).cache() if store else None

    # ---- input-manifest scan pruning (VERDICT r4 #2) --------------------
    # When the input is a plain file scan, diff its per-file (size, mtime)
    # manifest against the previous snapshot's and re-read ONLY changed
    # files plus affected conversations' home files; everyone else carries
    # their stored hash forward. Any gate failure → full scan (correct,
    # just not incremental). The quarantine split runs AFTER the scope
    # decision: under pruning only the re-read files are re-validated.
    cur_manifest = None
    prune = None
    if store is not None and cfg.incremental_scan and not upsert_only:
        from coco_search_spark.operators.scan_pruning import (
            input_manifest,
            plan_pruned_scan,
        )

        cur_manifest = input_manifest(transcripts)
        if cur_manifest is not None and snap is not None:
            prune = plan_pruned_scan(
                spark,
                transcripts,
                cur_manifest,
                snap.get("input_manifest"),
                stored,
                src_files_complete=bool(snap.get("src_files_complete")),
            )
            _fine("prune_plan")

    # parse-status gate (parse_tracking.py:58-111 analog): malformed turns
    # are quarantined and counted per conversation into state `errors`;
    # the pipeline proceeds over clean rows instead of failing
    transcripts, quarantined = split_quarantine(
        prune.scoped_raw if prune is not None else transcripts
    )
    prev_facts: DataFrame | None = None
    prev_links: DataFrame | None = None
    catalog_fp: str | None = None
    facts_parts: list[dict] | None = None
    chunks_parts: list[dict] | None = None
    unchanged_ids: DataFrame | None = None
    dirty_ids: DataFrame | None = None
    dirty = transcripts
    n_unchanged = 0
    n_dirty = 0
    n_deleted = 0
    cur_hashes = None
    if store is not None:
        if prune is not None:
            # candidates re-hash from the scoped re-read; everyone else
            # carries the stored hash (+ home set + advisory error count)
            hashed = conversation_hashes(
                transcripts.join(prune.cand_ids, "conv_id", "left_semi"),
                with_files=True,
            ).select(
                "conv_id",
                "content_hash",
                "rows_in",
                "src_files",
                F.lit(None).cast("bigint").alias("stored_errors"),
                F.lit(False).alias("carried"),
            )
            cur_hashes = hashed.unionByName(
                prune.carried.withColumn("carried", F.lit(True)).select(
                    "conv_id",
                    "content_hash",
                    "rows_in",
                    "src_files",
                    "stored_errors",
                    "carried",
                )
            ).cache()
        else:
            cur_hashes = conversation_hashes(
                transcripts, with_files=(cur_manifest is not None)
            )
            if cur_manifest is None:
                # not a plain file scan — no home sets to record
                cur_hashes = cur_hashes.withColumn(
                    "src_files", F.lit(None).cast("array<string>")
                )
            cur_hashes = cur_hashes.select(
                "conv_id",
                "content_hash",
                "rows_in",
                "src_files",
                F.lit(None).cast("bigint").alias("stored_errors"),
                F.lit(False).alias("carried"),
            ).cache()
        if upsert_only:
            # upsert contract: conversations absent from the partial input
            # are carried, never deleted — union their STORED identity rows
            # into the current set (hash == stored hash ⇒ the diff below
            # reads them as 'unchanged', so every downstream reuse path —
            # facts reload, pointer carry, vocab/node deltas — applies
            # unmodified and 'deleted' cannot occur)
            absent = stored.join(
                cur_hashes.select("conv_id"), "conv_id", "left_anti"
            ).select(
                "conv_id",
                "content_hash",
                "rows_in",
                "src_files",
                F.col("errors").alias("stored_errors"),
                F.lit(True).alias("carried"),
            )
            cur_hashes = cur_hashes.unionByName(absent).cache()
        diff = diff_against_state(cur_hashes, stored).cache()
        if snap is None:
            # FIRST commit into an empty store: every conversation is
            # 'new' by construction, so the (corpus-sized) content-hash
            # job has exactly one real consumer — the commit's state
            # rows, which materialize on a background thread overlapped
            # with the write-stage sinks. Running it here as a foreground
            # diff stage cost the cold incremental run a full corpus pass
            # of wall for numbers that are all statically known.
            n_unchanged = 0
            n_deleted = 0
            n_dirty = -1  # unknown; only ever compared under delta_mode
            dirty = transcripts
        else:
            # ONE aggregation for every diff-status count (the naive form
            # — one filtered count per status — pays three scheduler
            # round-trips for the same cached scan; warm-run latency is
            # job-count-bound)
            status_counts = {
                r["status"]: r["n"]
                for r in diff.groupBy("status")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            _fine("diff_counts")
            n_unchanged = status_counts.get("unchanged", 0)
            dirty_ids = diff.filter(
                F.col("status").isin("new", "changed")
            ).select("conv_id")
            n_dirty = status_counts.get("new", 0) + status_counts.get("changed", 0)
            n_deleted = status_counts.get("deleted", 0)
            dirty = transcripts.join(dirty_ids, "conv_id", "left_semi")
        _stamp("diff_scan")
        # provenance gate: stored facts produced under a different config /
        # grammar identity must not be mixed into this run's output.
        # Snapshots from before the stamp existed (no config_hash) are
        # treated as compatible — unknown is not known-different.
        config_compatible = snap is None or snap.get("config_hash") in (None, cfg_hash)
        # incremental LINK reuse (one level up from the extraction diff):
        # link(surface) is pure in (surface, catalog, config), so when both
        # identities match the previous snapshot, per-surface links are
        # exactly reusable and only the vocabulary delta needs scoring.
        # Any mismatch (or a pre-links snapshot) falls back to a full
        # re-link — unknown is not known-different here either.
        if catalog is not None:
            from coco_search_spark.operators.link_state import catalog_fingerprint

            catalog_fp = catalog_fingerprint(catalog)
            if (
                config_compatible
                and snap
                and snap.get("links_path")
                and os.path.exists(snap["links_path"])
                and snap.get("catalog_fp") == catalog_fp
            ):
                prev_links = spark.read.parquet(snap["links_path"])
        if not config_compatible and n_unchanged > 0:
            import warnings

            warnings.warn(
                f"state snapshot was produced under config {snap.get('config_hash')}"
                f" != current {cfg_hash}; falling back to full re-extract"
            )
        if n_unchanged > 0:
            # facts/chunks are DELTA-WRITTEN (Iceberg MERGE analog): each
            # run's dir holds only its dirty conversations' rows, and a
            # conversation's authoritative rows live in the dir matching
            # its written_version state column. Reload requires every part
            # dir to exist; the chunks relation must additionally be
            # reloadable whenever out_dir is set — an incremental run that
            # cannot restore unchanged conversations' chunks would publish
            # an incomplete chunks table. Any gap → conservative full run.
            facts_parts = store.table_parts("facts")
            chunks_parts = store.table_parts("chunks")
            chunks_reloadable = out_dir is None or _parts_ok(chunks_parts)
            if config_compatible and chunks_reloadable and _parts_ok(facts_parts):
                # restore EVERY fact family of unchanged conversations —
                # triples alone would silently drop their standalone
                # mentions (degree-0 nodes) and alias bindings (cluster
                # merges) from this run's output
                unchanged_ids = diff.filter(F.col("status") == "unchanged").select("conv_id")
                prev_facts = _reload_parts(spark, facts_parts, unchanged_ids, stored)
                # prev CHUNKS are not read on a normal delta run (nothing
                # downstream consumes them) — only compaction reloads them
            else:
                # unchanged conversations exist but their previous facts are
                # not reloadable (prior run committed state without an
                # out_dir, a pre-facts snapshot, or a deleted path):
                # proceeding with the pruned set would silently drop their
                # facts from the output — fall back to a full re-extract
                # (correct, just not incremental this run)
                if prune is not None:
                    # the pruned scan covers only candidate files; a full
                    # re-extract needs the whole corpus back. Carried
                    # hashes in cur_hashes stay valid (unchanged files),
                    # but quarantine/error bookkeeping reverts to the
                    # full-scan path.
                    transcripts, quarantined = split_quarantine(raw_transcripts)
                    prune = None
                dirty = transcripts
                n_unchanged = 0

    # background machinery for overlapped sinks/fetches (guide §2.6): the
    # pool exists from here so the prefetch below can run during the
    # segment/extract stages; the version is computed once and reused for
    # every versioned part (single-writer; the commit's expected_version
    # still guards concurrent writers)
    version = store.next_version() if store else 1
    from concurrent.futures import ThreadPoolExecutor as _TPE

    # workers sized to the maximum concurrent background jobs (chunk sink,
    # facts sink, quarantine sink, prev-edges prefetch, node resolution,
    # state rows) — a queued submission here would serialize an overlap
    bg_pool = _TPE(max_workers=6)
    prev_kind_totals = snap.get("fact_kind_counts") if snap else None
    # prefetch the replaced conversations' PREVIOUS facts (the vocab-delta
    # subtrahend) while extraction saturates the cores — it depends only on
    # the diff and the committed parts. The guard mirrors the vocab-delta
    # gate exactly, so the future exists iff the gate will consume it.
    old_rep_future = None
    if (
        store is not None
        and out_dir
        and prev_facts is not None
        and isinstance(prev_kind_totals, dict)
        and snap.get("vocab_path")
        and os.path.exists(snap["vocab_path"])
    ):

        def _fetch_old_rep():
            with _job_description(spark, "prefetch: replaced facts"):
                replaced = diff.filter(
                    F.col("status").isin("changed", "deleted")
                ).select("conv_id")
                rep_sample = replaced.take(EDGE_FETCH_PUSHDOWN_LIMIT + 1)
                if len(rep_sample) <= EDGE_FETCH_PUSHDOWN_LIMIT:
                    old = store.read_table(
                        spark, "facts", conv_ids=[r["conv_id"] for r in rep_sample]
                    )
                else:
                    old = store.read_table(spark, "facts").join(
                        replaced, "conv_id", "left_semi"
                    )
                # delta-sized; consumed by the fused contrib delta AND the
                # signed kind-count aggregation
                return old.localCheckpoint(eager=True)

        old_rep_future = bg_pool.submit(_fetch_old_rep)

    # segments (with char offsets for edge provenance) feed BOTH the
    # extraction and the chunk projection. On DELTA runs the table is
    # delta-sized and one materialization saves the second segmentation
    # pass outright. On FULL runs it must stay lazy:
    # storing the exploded corpus-sized segment table costs more than the
    # two consumers' recompute (interleaved A/B at bench scale: eager
    # checkpoint ~2341 normalized unit-sec vs lazy ~1611 — the explode is
    # codegen-cheap, the materialized rows are wide).
    segments = segment_turns(dirty, with_offsets=True)
    if prev_facts is not None:
        segments = segments.localCheckpoint(eager=True)
    _stamp("segment")

    # chunks table — the reference's chunk relation parity (flow.py:61-84:
    # text, tokens (tsvector input), embedding per chunk). Tokenization is
    # pure Catalyst; the embedding is the Arrow-batched stage (embedder
    # analog, 128-text RPC batches → Arrow batches).
    chunks = None
    if out_dir:
        from coco_search_spark.functions.embed import make_embed_udf
        from coco_search_spark.functions.text import tokenize_col

        embed = make_embed_udf(embed_dim)
        # embedding input gets a context prefix (conversation + role) while
        # the stored text stays raw — the reference's add_filename_context
        # rule (embedder.py:58-76: "File: {path}\n" prepended only for the
        # embedding)
        embed_input = F.concat_ws(
            "\n",
            F.concat(F.lit("Conv: "), F.col("conv_id"), F.lit(" role: "), F.col("role")),
            F.col("seg_text"),
        )
        from coco_search_spark.functions.text import classify_block_col, section_col

        chunks = segments.select(
            "conv_id",
            "turn_idx",
            "seg_idx",
            "role",
            "tool",
            "start_word",
            "end_word",
            "seg_text",
            # X3 metadata: structural block typing + innermost section
            # heading (ChunkMetadata{block_type, hierarchy} analog,
            # handlers/__init__.py:36-42)
            classify_block_col(F.col("seg_text"), F.col("tool")).alias("block_type"),
            section_col(F.col("seg_text")).alias("section"),
            # stored as one text column exactly like the reference's
            # content_tsv_input (flow.py:69) — consumers re-split on space
            F.array_join(tokenize_col(F.col("seg_text")), " ").alias("tsv_input"),
            embed(embed_input).alias("embedding"),
        )

    # ---- overlapped chunk sink (guide §2.6: overlap independent jobs) ---
    # On FULL runs (no reusable previous facts) the chunk sink is the plain
    # corpus-sized write to chunks_v{version} and depends on nothing the
    # rest of the pipeline computes — submit it from a thread so its
    # scan/tokenize/embed/write jobs back-fill executor slots. Submission
    # is deferred until AFTER the extraction checkpoint on purpose:
    # extraction saturates every core, so overlapping the (equally
    # CPU-bound) chunk projection with it buys nothing, while the
    # linking/canonicalization stage that follows is scheduling-bound over
    # vocabulary-sized tables and leaves most cores idle — that idle
    # capacity is what the chunk write soaks up (measured: submit-at-start
    # left the headline wall unchanged; submit-after-extract is where the
    # overlap is real). Delta runs keep the sequential sink: their write is
    # delta-sized and the carry/compaction logic depends on the diff.
    chunks_future = None
    chunks_path_bg = None
    facts_future = None
    facts_path_bg = None

    def _launch_bg_sinks():
        """Submit the chunk and fact sinks whose write is the PLAIN
        versioned part (full table on a full run, the dirty delta on a
        delta run) — every input they need (the chunk projection, the
        extraction checkpoint, the compaction decision) is final once the
        extraction checkpoint exists. The carry (noop-delta) and
        compaction branches stay sequential in the write section: they
        depend on bookkeeping or fold in reloaded parts."""
        nonlocal chunks_future, chunks_path_bg, facts_future, facts_path_bg
        delta = prev_facts is not None
        noop = delta and n_dirty == 0
        will_compact = (
            delta and not noop and (len(facts_parts) + 1 > cfg.compact_parts_after)
        )
        if chunks is not None and not noop and not will_compact:
            chunks_path_bg = f"{out_dir}/chunks_v{version:06d}"

            def _write_chunks_bg(df=chunks, path=chunks_path_bg):
                with _job_description(spark, "chunks: tokenize+embed+write"):
                    df.write.mode("overwrite").parquet(path)

            chunks_future = bg_pool.submit(_write_chunks_bg)
        if out_dir and not noop and not will_compact:
            # the delta IS the extraction checkpoint; on a full run
            # combined == dirty_facts, so one sink body covers both
            facts_path_bg = f"{out_dir}/facts_v{version:06d}"

            def _write_facts_bg(df=dirty_facts, path=facts_path_bg):
                with _job_description(spark, "facts sink"):
                    df.write.mode("overwrite").parquet(path)

            facts_future = bg_pool.submit(_write_facts_bg)

    # the quarantine sink (carry-forward + write + count) depends only on
    # the quarantine split and the prune decision — both final here — so it
    # also runs overlapped instead of adding a corpus-scan-sized job after
    # the write stage. Rows carry their source file so a PRUNED run can
    # carry forward the quarantine of files it did not re-scan (their
    # malformed rows are still in the corpus).
    def _quarantine_sink():
        q = quarantined.withColumn("src_file", F.input_file_name())
        if out_dir:
            with _job_description(spark, "quarantine sink"):
                q_path = f"{out_dir}/quarantine"
                if prune is not None and os.path.exists(q_path):
                    prev_q = spark.read.parquet(q_path)
                    if "src_file" in prev_q.columns:
                        # drop re-scanned files' rows (re-detected this
                        # run) and removed files' rows (no longer in the
                        # corpus); both exclusion lists are delta-sized
                        gone = list(prune.scanned_files) + list(prune.removed_files)
                        q = q.unionByName(
                            prev_q.filter(~F.col("src_file").isin(gone)),
                            allowMissingColumns=True,
                        )
                    # pre-upgrade quarantine without src_file: rows cannot
                    # be attributed to files — re-detected on their next
                    # re-scan
                # materialize BEFORE the overwrite of the dir the
                # carry-forward may still be lazily reading; always
                # overwrite (even when empty): a rerun after the data was
                # fixed must not leave the previous run's rows
                # contradicting n_quarantined_turns=0
                q = q.localCheckpoint(eager=True)
                q.write.mode("overwrite").parquet(q_path)
            # hand the checkpoint to the state-row builder: its per-conv
            # error counts would otherwise re-scan the corpus (cold runs
            # paid a second full pass inside the commit). Carried prev
            # rows belong only to carried conversations (their files were
            # not re-scanned), whose errors_col reads stored_errors — so
            # counting from this table is value-identical.
            return q.count(), q
        return q.count(), None

    quarantine_future = None
    state_rows_future = None

    # ONE corpus scan + ONE shuffle extracts every fact family (triples
    # with provenance, standalone mentions, alias bindings) — at 10^12
    # turns the scan dominates, so the pipeline must not pay it per family.
    vocab: DataFrame | None = None  # refcounted vocabulary (vocab_state)
    vocab_mode = None  # None (storeless) | "full" | "delta"
    kind_counts: dict | None = None
    # this run's extraction output alone — the FULL corpus facts on a
    # cold/full run, the dirty conversations' facts on a delta run
    # (segments are scoped to the dirty set there). One
    # materialization: localCheckpoint stores the deduped fact rows
    # once; family splits below are cheap filters over it.
    dirty_facts = extract_all(segments).localCheckpoint(eager=True)
    _fine("extract_ckpt")
    # ---- refcounted vocabulary maintenance (round 5 late) ----------
    # The surface/binding/standalone sets are per-conversation-distinct
    # unions over the facts, so a warm run maintains their refcounts
    # from the delta (vocab_state.py) instead of re-scanning the
    # corpus union — the same delta rule node degrees already use.
    # Replaced conversations' previous facts come from the indexed
    # facts fetch (bounded collect → pushed isin, semi-join above the
    # cap). Any gate miss → full recompute below.
    if store is not None and out_dir:
        from coco_search_spark.operators.vocab_state import (
            apply_vocab_signed,
            vocab_contrib_delta,
        )

        vocab_mode = "full"
        if (
            prev_facts is not None
            and isinstance(prev_kind_totals, dict)
            and snap.get("vocab_path")
            and os.path.exists(snap["vocab_path"])
        ):
            old_vocab = spark.read.parquet(snap["vocab_path"])
            # fetched+checkpointed by the background prefetch that ran
            # during the segment/extract stages (the guard up there
            # mirrors this gate exactly)
            old_rep = old_rep_future.result()
            _fine("old_rep_fetch")
            # fused signed delta (vocab_contrib_delta): 2 shuffles
            # instead of the add/sub pair's 5 — warm-floor job count
            cand = apply_vocab_signed(
                old_vocab, vocab_contrib_delta(dirty_facts, old_rep)
            ).localCheckpoint(eager=True)
            # loud invariant: a negative refcount means the subtracted
            # facts were not what the snapshot held — recompute from
            # the corpus rather than persist a corrupt vocabulary
            _fine("vocab_delta_ckpt")
            if cand.filter(F.col("cnt") < 0).limit(1).count() > 0:
                cand.unpersist()
            else:
                vocab = cand.filter(F.col("cnt") > 0)
                vocab_mode = "delta"
                # per-kind fact totals by the same delta arithmetic —
                # ONE signed aggregation instead of a corpus groupBy
                net = {
                    r["kind"]: r["net"]
                    for r in dirty_facts.select(
                        "kind", F.lit(1).alias("sgn")
                    )
                    .unionAll(old_rep.select("kind", F.lit(-1).alias("sgn")))
                    .groupBy("kind")
                    .agg(F.sum("sgn").alias("net"))
                    .collect()
                }
                _fine("kind_net")
                kind_counts = {
                    k: int(prev_kind_totals.get(k, 0)) + int(net.get(k, 0))
                    for k in set(prev_kind_totals) | set(net)
                }
    # lean mode: with a delta-maintained vocabulary nothing downstream
    # needs a materialized corpus-wide fact union — surfaces, binding
    # pairs, standalone mentions and kind totals all derive from the
    # vocab table, the facts sink writes the dirty checkpoint, and the
    # dirty-edge resolve pre-filters from it. Compaction runs fold old
    # parts into a full one, so they keep the materialized union.
    lean_facts = (
        vocab is not None
        and prev_facts is not None
        and not (
            n_dirty > 0 and len(facts_parts) + 1 > cfg.compact_parts_after
        )
    )
    if prev_facts is not None:
        # allowMissingColumns: snapshots written before newer fact
        # columns existed reload with NULLs instead of failing (the
        # schema-evolution rule — see state.ensure_columns)
        combined = dirty_facts.unionByName(prev_facts, allowMissingColumns=True)
        if not lean_facts:
            combined = combined.localCheckpoint(eager=True)
    else:
        combined = dirty_facts
    triples, standalone, bindings = split_extracted(combined)
    if kind_counts is None:
        # ONE aggregation for both family counts (two filtered counts
        # pay two scheduler round-trips over the same table; warm-run
        # latency is job-count-bound)
        kind_counts = {
            r["kind"]: r["n"]
            for r in combined.groupBy("kind")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    n_triples = kind_counts.get("triple", 0)
    n_standalone = kind_counts.get("mention", 0)
    _stamp("extract")
    # extraction (core-saturating) is done — NOW hand the idle capacity of
    # the vocabulary-sized linking/canonicalize stages to the overlapped
    # corpus-sized sinks (see the deferred-submission note above)
    _launch_bg_sinks()
    quarantine_future = bg_pool.submit(_quarantine_sink)
    # speculative prefetch of the replaced conversations' PREVIOUS edges —
    # the node-delta subtrahend. When no surface moves (the steady-state
    # path), the node path's replaced set is exactly new ∪ changed ∪
    # deleted, which is known NOW; prefetching the pushdown-pruned part
    # read here overlaps it with the linking/canonicalize window. The
    # consumer uses it only when n_moved == 0 (where the speculation is
    # provably exact); a moved-surface run discards it (read-only waste).
    # The guard mirrors the edge-delta gate's preconditions.
    prev_edges_future = None
    edges_parts_prev = store.table_parts("edges") if store else None
    _will_compact_spec = (
        prev_facts is not None
        and n_dirty > 0
        and facts_parts is not None
        and len(facts_parts) + 1 > cfg.compact_parts_after
    )
    if (
        out_dir
        and store is not None
        and prev_facts is not None
        and not _will_compact_spec
        and _parts_ok(edges_parts_prev)
        and len(edges_parts_prev) + 1 <= cfg.compact_parts_after
        and snap.get("linkmap_path")
        and os.path.exists(snap["linkmap_path"])
    ):

        def _fetch_prev_edges():
            with _job_description(spark, "prefetch: replaced edges"):
                spec_ids = diff.filter(F.col("status") != "unchanged").select("conv_id")
                sample = spec_ids.take(EDGE_FETCH_PUSHDOWN_LIMIT + 1)
                if len(sample) <= EDGE_FETCH_PUSHDOWN_LIMIT:
                    prev = store.read_table(
                        spark, "edges", conv_ids=[r["conv_id"] for r in sample]
                    )
                else:
                    prev = store.read_table(spark, "edges").join(
                        spec_ids, "conv_id", "left_semi"
                    )
                return prev.localCheckpoint(eager=True)

        prev_edges_future = bg_pool.submit(_fetch_prev_edges)

    if vocab is not None and vocab_mode == "delta":
        # vocabulary straight from the delta-maintained refcounts — a
        # vocabulary-sized scan; the corpus union is never touched
        from coco_search_spark.operators.vocab_state import vocab_surfaces

        surfaces = vocab_surfaces(vocab).localCheckpoint(eager=True)
        _fine("surfaces_ckpt")
    else:
        # vocabulary-sized surface table in ONE pass over the fact
        # checkpoint: every family's surface column (triple subj/obj,
        # standalone mention, both binding sides — an alias bound in text
        # but never mentioned elsewhere must still canonicalize into its
        # target's cluster) explodes from one kind-gated array, nulls
        # filtered, ONE distinct shuffle with map-side partial aggregation.
        # The previous per-column-distinct union paid five scans of the
        # fact table and six shuffles for the identical set.
        surfaces = (
            combined.select(
                F.explode(
                    F.array(
                        F.when(F.col("kind") == "triple", F.col("subj")),
                        F.when(F.col("kind") == "triple", F.col("obj")),
                        F.when(F.col("kind") == "mention", F.col("mention")),
                        F.when(F.col("kind") == "binding", F.col("target")),
                        F.when(F.col("kind") == "binding", F.col("alias")),
                    )
                ).alias("surface")
            )
            .filter(F.col("surface").isNotNull())
            .distinct()
            .localCheckpoint(eager=True)
        )
    # counted once (reused in metrics): gates the count-based broadcast
    # hints below — under the budget the vocabulary tables get an explicit
    # broadcast (no AQE conversion overhead); over it (the 10^9-surface
    # contingency) every join keeps its sort-merge fallback
    n_surfaces = surfaces.count()
    _fine("n_surfaces")
    links_small = n_surfaces <= cfg.broadcast_surface_limit

    # linking and canonicalization are INDEPENDENT consumers of the same
    # checkpointed surface table — submit both from separate threads so
    # Spark interleaves their (vocabulary-sized, scheduling-bound) jobs;
    # on a cluster this is two concurrent job groups sharing executors.
    # Each thread materializes its result (localCheckpoint/cache) so the
    # overlap is real, not deferred to the first downstream action.
    from concurrent.futures import ThreadPoolExecutor

    def _compute_links():
        """→ (links, n_fresh, n_reused). With a reusable previous link
        table (catalog fp + config identity both matched), only the
        vocabulary delta is scored; reused rows are value-identical to a
        re-score by per-surface purity, so the merged output equals a full
        re-link row for row (test_link_state asserts it)."""
        if catalog is None:
            return (
                surfaces.select(
                    F.col("surface").alias("mention"),
                    F.lit(None).cast("string").alias("entity_id"),
                    F.lit(None).cast("double").alias("link_score"),
                    F.lit(None).cast("string").alias("match_type"),
                ),
                0,
                0,
            )
        mentions = surfaces.select(F.col("surface").alias("mention"))
        reusable = None
        if prev_links is not None:
            from coco_search_spark.operators.link_state import split_link_work

            mentions, reusable = split_link_work(mentions, prev_links)
            # delta-sized checkpoint: consumed twice (count + scoring)
            mentions = mentions.localCheckpoint(eager=True)
        n_fresh = mentions.count() if reusable is not None else n_surfaces
        if reusable is not None and n_fresh == 0:
            # empty vocabulary delta: every link is reused — skip the
            # scoring jobs entirely (the common cron-re-run case)
            links = reusable.filter(F.col("entity_id").isNotNull())
            return links.localCheckpoint(eager=True), 0, n_surfaces
        links = link_surfaces(
            mentions,
            catalog,
            embed_dim=embed_dim,
            prefetch=cfg.max_prefetch,
            rrf_k=cfg.rrf_k,
            min_score=cfg.min_link_score,
            boost=cfg.exact_match_boost,
        )
        if reusable is not None:
            from coco_search_spark.operators.link_state import merge_links

            # the persisted table carries one row per previous surface
            # including the no-link ones (entity_id NULL) so the delta
            # anti-join is exact; a full re-link emits no row for those,
            # so drop them from the merged output for value parity
            links = merge_links(links, reusable.filter(F.col("entity_id").isNotNull()))
        return links.localCheckpoint(eager=True), n_fresh, n_surfaces - n_fresh

    # ---- canonicalization reuse (round 5) -------------------------------
    # canonicalize_surfaces is PURE in (surface set, binding-pair set,
    # canon config): identical input must produce identical labels, so a
    # warm run whose canon-input fingerprint matches the previous
    # snapshot's reloads the persisted labels instead of re-running
    # MinHash + CC — the same purity rule link_state applies to linking,
    # one stage over. The reference's "re-resolve all" rule is satisfied
    # vacuously (identical input ⇒ identical resolution). Config identity
    # rides the facts provenance gate (config_compatible); any mismatch,
    # missing table, or fingerprint drift recomputes (unknown is not
    # known-unchanged). The fingerprint is the same two-fold content
    # identity the catalog gate uses, over 's:'-tagged surfaces plus
    # 'b:'-tagged DISTINCT binding pairs (bindings are CC edges — the
    # label function sees sets, so the fingerprint must too).
    canon_in_fp = None
    canon_reused = False
    prev_canon = None
    # distinct binding pairs: vocabulary-sized from the maintained
    # refcounts on delta runs; a corpus-union distinct otherwise. Both
    # the fingerprint and the CC extra edges consume this — duplicates
    # carry no information for either (the label function sees sets).
    if vocab is not None and vocab_mode == "delta":
        from coco_search_spark.operators.vocab_state import vocab_binding_pairs

        binding_pairs = vocab_binding_pairs(vocab)
    else:
        binding_pairs = bindings.select("target", "alias").distinct()
    if store is not None:
        from coco_search_spark.operators.link_state import catalog_fingerprint

        # distinct AFTER the concat: the fingerprint folds the tagged
        # STRING set, and two distinct pairs can collide as strings — both
        # derivation modes must fold the identical row set or the reuse
        # gate would never match across a mode switch
        tagged = surfaces.select(
            F.concat(F.lit("s:"), F.col("surface")).alias("k")
        ).unionByName(
            binding_pairs.select(
                F.concat_ws("→", F.lit("b:"), "target", "alias").alias("k")
            ).distinct()
        )
        canon_in_fp = catalog_fingerprint(tagged)
        if (
            snap is not None
            and config_compatible
            and snap.get("canon_fp") == canon_in_fp
            and snap.get("canon_path")
            and os.path.exists(snap["canon_path"])
        ):
            prev_canon = spark.read.parquet(snap["canon_path"])
            canon_reused = True

    def _compute_canon():
        if canon_reused:
            c = prev_canon.cache()
            c.count()
            return c
        # in-text alias bindings ("TARGET as ALIAS") are explicit
        # same-entity evidence fed into the similarity graph — they merge
        # surfaces sharing no shingles/tokens (the aliased-import analog).
        # binding_pairs is the distinct pair set (vocab-derived on delta
        # runs); connected components see sets, so duplicates carried no
        # information anyway.
        c = canonicalize_surfaces(
            surfaces,
            extra_edges=binding_pairs.select(
                F.col("target").alias("a"), F.col("alias").alias("b")
            ),
            max_cc_iterations=cfg.max_cc_iterations,
            n_hashes=cfg.n_hashes,
            n_bands=cfg.n_bands,
            jaccard_threshold=cfg.jaccard_threshold,
        ).cache()
        c.count()
        return c

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_links = pool.submit(_compute_links)
        f_canon = pool.submit(_compute_canon)
        surface_links, n_links_fresh, n_links_reused = f_links.result()
        canon = f_canon.result()
    links_raw = surface_links
    _stamp("link_canonicalize")

    # canonical id: linked entity id wins, else the surface's canonical form
    link_map = (
        canon.withColumnRenamed("surface", "mention")
        .join(surface_links.select("mention", "entity_id"), "mention", "left")
        .select("mention", F.coalesce("entity_id", "canon_id").alias("canon_id"))
    )

    # lazy full edge plan: the cold path and res.edges consumers force it;
    # warm delta runs never materialize the corpus-wide join (dirty edges
    # resolve from a pre-filtered triple set below)
    edges = resolve_edges(triples, link_map, links_small=links_small).cache()
    # relation-free entities (X2): canonical ids of standalone mentions
    # become degree-0 nodes unless they also appear as edge endpoints.
    # Broadcast is count-gated (links_small), never unconditionally forced:
    # at the 10^9-surface contingency in SCALE.md the link map cannot
    # broadcast and the join must keep its sort-merge fallback.
    if vocab is not None and vocab_mode == "delta":
        # distinct standalone-mention surfaces from the maintained
        # refcounts — vocabulary-sized, no corpus scan
        from coco_search_spark.operators.vocab_state import vocab_standalone_mentions

        standalone_mention_set = vocab_standalone_mentions(vocab)
    else:
        standalone_mention_set = standalone.select(F.col("mention")).distinct()
    standalone_ids = (
        standalone_mention_set
        .join(F.broadcast(link_map) if links_small else link_map, "mention")
        .select(F.col("canon_id").alias("entity_id"))
        .distinct()
    )

    # (version was computed once, up at the overlapped-chunk-sink launch)
    # delta-write mode: this run extracted only the dirty conversations, so
    # only THEIR rows go into the new facts/chunks part dirs — O(delta)
    # write instead of an O(corpus) rewrite per incremental run. Once the
    # part list hits COMPACT_PARTS_AFTER, one compaction run folds
    # everything into a single full part (bounding reader fan-in); full
    # runs always write a single full part.
    delta_mode = prev_facts is not None
    # a run with ZERO dirty conversations (cron re-ingestion of an
    # unchanged corpus) writes nothing: empty delta parts would grow the
    # part list run after run and trigger pointless compaction rewrites.
    # The previous parts carry forward verbatim in the new manifest.
    noop_delta = delta_mode and n_dirty == 0
    compact = (
        delta_mode
        and not noop_delta
        and (len(facts_parts) + 1 > cfg.compact_parts_after)
    )

    # ---- edge-delta gate (VERDICT r4 #3: O(delta) edge/node work) -------
    # An edge row is PURE in (its conversation's triples, link_map), so a
    # conversation's stored edges remain valid across runs unless its
    # content changed OR the canonical id of a surface it mentions moved.
    # The gate diffs this run's link_map against the previous snapshot's
    # persisted copy (value-based — no fingerprint collision class); the
    # decision feeds BOTH the edge sink (delta part vs full rewrite) and
    # the node resolution below (incremental degree maintenance vs full
    # rebuild). Any doubt — no persisted map, part list at the compaction
    # bound, vocabulary-scale move set — falls back to the full paths
    # (unknown is not known-unchanged).
    edge_dirty_ids = None
    n_edge_dirty = None
    n_moved = None
    # edges_parts_prev was resolved up at the prev-edges prefetch launch
    if (
        out_dir
        and store is not None
        and delta_mode
        and not compact
        and _parts_ok(edges_parts_prev)
        and len(edges_parts_prev) + 1 <= cfg.compact_parts_after
        and snap.get("linkmap_path")
        and os.path.exists(snap["linkmap_path"])
    ):
        if canon_reused and prev_links is not None and n_links_fresh == 0:
            # identity-proven empty move set, no jobs: link_map = canon ⋈
            # per-surface links. canon reuse means the canon-input
            # fingerprint matched — the surface SET and every label are the
            # previous run's — and zero fresh links over that same surface
            # set means the link table rows are the previous run's too, so
            # the composed map is value-identical by construction (the same
            # exactness argument the links_path pointer carry makes). The
            # value diff below would compare two equal tables for ~1 s of
            # warm wall on the steady-state cron path.
            n_moved = 0
            _fine("linkmap_diff")
        else:
            old_map = spark.read.parquet(snap["linkmap_path"])
            # surfaces whose canonical id differs from the previous run —
            # including surfaces added to / removed from the vocabulary
            moved = (
                link_map.select("mention", F.col("canon_id").alias("new_id"))
                .join(
                    old_map.select("mention", F.col("canon_id").alias("old_id")),
                    "mention",
                    "full_outer",
                )
                .filter(~F.col("new_id").eqNullSafe(F.col("old_id")))
                .select("mention")
                .localCheckpoint(eager=True)
            )
            n_moved = moved.count()
            _fine("linkmap_diff")
        if n_moved == 0:
            edge_dirty_ids = dirty_ids.localCheckpoint(eager=True)
            n_edge_dirty = n_dirty
        elif n_moved <= cfg.broadcast_surface_limit:
            # conversations whose triples mention a moved surface: two
            # broadcast semi-joins over the (already loaded) full triple
            # set — a removed surface matches no triple, harmlessly
            affected = (
                triples.join(
                    F.broadcast(moved.withColumnRenamed("mention", "subj")),
                    "subj",
                    "left_semi",
                )
                .select("conv_id")
                .unionByName(
                    triples.join(
                        F.broadcast(moved.withColumnRenamed("mention", "obj")),
                        "obj",
                        "left_semi",
                    ).select("conv_id")
                )
            )
            edge_dirty_ids = (
                dirty_ids.unionByName(affected).distinct().localCheckpoint(eager=True)
            )
            n_edge_dirty = edge_dirty_ids.count()
            _fine("edge_dirty_ids")
        # else: move set beyond the broadcast budget — cluster churn at
        # that scale means most edges move anyway; full paths below
    carry_edges = edge_dirty_ids is not None and n_edge_dirty == 0
    # the dirty conversations' CURRENT edges — delta-sized by construction
    # (triples pre-filtered BEFORE the link join, so the resolve never
    # touches the unchanged corpus); used by the delta sink and the
    # incremental node update
    edges_dirty = None
    if edge_dirty_ids is not None:
        if lean_facts:
            # lean: dirty conversations' triples come straight from this
            # run's extraction checkpoint (delta-sized) — never a semi-join
            # over the corpus union. When surfaces moved, the extra
            # (unchanged) affected conversations' triples come from the
            # indexed facts fetch, same pushdown as the node-delta path.
            dirty_triple_src = split_extracted(dirty_facts)[0]
            if n_moved:
                extra_ids = edge_dirty_ids.join(dirty_ids, "conv_id", "left_anti")
                ex_sample = extra_ids.take(EDGE_FETCH_PUSHDOWN_LIMIT + 1)
                if len(ex_sample) <= EDGE_FETCH_PUSHDOWN_LIMIT:
                    extra_facts = store.read_table(
                        spark, "facts", conv_ids=[r["conv_id"] for r in ex_sample]
                    )
                else:
                    extra_facts = store.read_table(spark, "facts").join(
                        extra_ids, "conv_id", "left_semi"
                    )
                dirty_triple_src = dirty_triple_src.unionByName(
                    split_extracted(extra_facts)[0], allowMissingColumns=True
                )
        else:
            dirty_triple_src = triples.join(edge_dirty_ids, "conv_id", "left_semi")
        edges_dirty = resolve_edges(dirty_triple_src, link_map, links_small=links_small)

    # ---- node resolution: carry / incremental / full --------------------
    # Degrees are pure sums over edge rows, so warm runs maintain the node
    # table from the delta instead of re-aggregating the corpus:
    # new = old − contrib(replaced conversations' previous edges)
    #     + contrib(their current edges), membership refreshed from the
    # current standalone set. Previous edges resolve from the committed
    # parts (StateStore.read_table) pre-filtered to the replaced
    # conversations. Any gate miss → full rebuild.
    nodes = None
    nodes_mode = "full"
    old_nodes_path = os.path.join(out_dir, "nodes") if out_dir else None
    # provenance gate on the on-disk node table (ADVICE r5, high): the
    # carry/delta paths assume {out}/nodes holds exactly the degrees the
    # resumed snapshot committed — but the sink dir is shared across refs
    # (a branch run, a rollback, any other writer overwrites it). The
    # producing snapshot's global version is stamped both into the manifest
    # (`nodes_version`) and as a sidecar in the dir; any mismatch (or a
    # pre-stamp table) falls back to nodes_mode=full, mirroring the other
    # reuse gates.
    nodes_provenance_ok = False
    if old_nodes_path and store is not None and os.path.exists(old_nodes_path):
        from coco_search_spark.operators.materialize import nodes_version_on_disk

        stamped = snap.get("nodes_version") if snap else None
        nodes_provenance_ok = (
            stamped is not None and nodes_version_on_disk(old_nodes_path) == stamped
        )
    # The non-carry node resolution runs as a BACKGROUND future consumed by
    # the write-stage nodes sink (and metrics): the node aggregation /
    # delta checkpoint is independent of every other sink, so overlapping
    # it with the write stage soaks the same idle capacity the other
    # overlapped jobs use (guide §2.6). Values are identical to the old
    # inline form — same DataFrames, only the scheduling moved. The
    # `resolve_nodes` stamp therefore measures only the foreground part
    # (the shared-edges materialization on full runs); the background tail
    # shows up inside the write window it overlaps.
    nodes_future = None
    if (
        out_dir
        and store is not None
        and n_moved == 0
        and carry_edges
        # a deletion can leave the vocabulary (and so n_moved) unchanged
        # while still retiring its conversation's degree contributions —
        # carrying the node table would go stale
        and n_deleted == 0
        and nodes_provenance_ok
    ):
        # value-identical link map and zero replaced conversations: the
        # on-disk node table is already current
        nodes_mode = "carry"
        nodes = build_nodes(edges, extra_entities=standalone_ids)  # lazy, for res
    # NOTE the delta path does NOT require n_moved == 0: edge_dirty_ids
    # covers every conversation whose edges a surface move touches (the
    # edge-delta contract, oracle-proven by kg_edge_delta), so subtracting
    # the replaced conversations' old contributions retires moved-away
    # canonical ids and the additions introduce the new ones.
    elif (
        out_dir
        and store is not None
        and edge_dirty_ids is not None
        and nodes_provenance_ok
    ):
        from coco_search_spark.operators.materialize import (
            apply_degree_delta,
            degree_delta,
        )

        def _nodes_delta_bg():
            with _job_description(spark, "nodes: degree delta"):
                _bt = _time.perf_counter()
                if prev_edges_future is not None and n_moved == 0:
                    # the speculative prefetch's id set (every non-unchanged
                    # conversation) EQUALS deleted ∪ edge_dirty_ids here,
                    # because with zero moved surfaces edge_dirty_ids is
                    # exactly the dirty set — consume the checkpoint fetched
                    # during linking
                    prev_edges_replaced = prev_edges_future.result()
                    if _fine_on:
                        timings["f_prev_edges_read"] = round(_time.perf_counter() - _bt, 3)
                        _bt = _time.perf_counter()
                else:
                    replaced_ids = (
                        diff.filter(F.col("status") == "deleted")
                        .select("conv_id")
                        .unionByName(edge_dirty_ids)
                        .distinct()
                    )
                    # delta-sized id set → pushed `isin` predicate on the part
                    # scans: parquet row groups whose conv_id min/max (kept
                    # tight by write_edges' sortWithinPartitions) miss the set
                    # are skipped without reading — an indexed fetch of the
                    # replaced conversations' previous edges instead of an
                    # O(all-edges) scan. The collect is bounded: above the cap
                    # (collect-size guard) the plain semi-join path reads the
                    # parts in full (correct, just not pruned).
                    sample = replaced_ids.take(EDGE_FETCH_PUSHDOWN_LIMIT + 1)
                    if len(sample) <= EDGE_FETCH_PUSHDOWN_LIMIT:
                        prev_edges_replaced = store.read_table(
                            spark, "edges", conv_ids=[r["conv_id"] for r in sample]
                        )
                    else:
                        prev_edges_replaced = store.read_table(spark, "edges").join(
                            replaced_ids, "conv_id", "left_semi"
                        )
                    if _fine_on:
                        timings["f_prev_edges_read"] = round(_time.perf_counter() - _bt, 3)
                        _bt = _time.perf_counter()
                # ONE signed aggregation for the degree delta (degree_delta:
                # contrib(new) − contrib(old) over the signed endpoint union)
                # instead of two contrib aggs + a full-outer join — the delta
                # is delta-sized, so the warm floor here is shuffle/job count
                cand = apply_degree_delta(
                    spark.read.parquet(old_nodes_path),
                    degree_delta(edges_dirty, prev_edges_replaced),
                    standalone_ids,
                    # materialize BEFORE the sink overwrites the old nodes dir
                    # the plan lazily reads (vocabulary-sized) — ordering holds
                    # by construction: the nodes sink thunk consumes THIS
                    # future before it writes the dir
                ).localCheckpoint(eager=True)
                if _fine_on:
                    timings["f_node_delta_ckpt"] = round(_time.perf_counter() - _bt, 3)
                    _bt = _time.perf_counter()
                # loud invariant: a negative degree means the subtracted edge
                # set was not what the snapshot held — rebuild instead of
                # persisting a corrupt table (cheap check, vocabulary-sized)
                if (
                    cand.filter((F.col("out_degree") < 0) | (F.col("in_degree") < 0))
                    .limit(1)
                    .count()
                    > 0
                ):
                    full = build_nodes(edges, extra_entities=standalone_ids).cache()
                    full.count()
                    return full, "full"
                if _fine_on:
                    timings["f_node_neg_check"] = round(_time.perf_counter() - _bt, 3)
                return cand, "delta"

        nodes_future = bg_pool.submit(_nodes_delta_bg)
    else:
        if out_dir:
            # full rebuild with sinks ahead: the nodes aggregation and the
            # edge sink share `edges` — materialize the cached corpus join
            # ONCE in the foreground so the two concurrent consumers read
            # the filled cache instead of racing (and duplicating) the fill
            edges.count()

        def _nodes_full_bg():
            with _job_description(spark, "nodes: full build"):
                n = build_nodes(edges, extra_entities=standalone_ids).cache()
                n.count()
            return n, "full"

        nodes_future = bg_pool.submit(_nodes_full_bg)
    _stamp("resolve_nodes")
    _tf[0] = _time.perf_counter()

    def _build_state_rows():
        # the quarantine sink's checkpoint (when available) replaces a
        # second corpus scan for the per-conversation error counts
        _qn, q_src = quarantine_future.result()
        err_by_conv = (
            (q_src if q_src is not None else quarantined)
            .filter(F.col("conv_id").isNotNull())
            .groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("errors"))
        )
        base = cur_hashes.join(err_by_conv, "conv_id", "left")
        # pruned runs did not re-scan carried conversations' files — their
        # advisory error counts carry forward from the stored state
        errors_col = (
            F.when(F.col("carried"), F.coalesce(F.col("stored_errors"), F.lit(0)))
            .otherwise(F.coalesce(F.col("errors"), F.lit(0)))
            if (prune is not None or upsert_only)
            else F.coalesce(F.col("errors"), F.lit(0))
        )
        if delta_mode and not compact:
            # written_version: dirty conversations' rows went into THIS
            # run's part; unchanged ones keep the version of the part that
            # last wrote them — the pointer _reload_parts resolves against
            base = base.join(
                diff.select("conv_id", "status"), "conv_id", "left"
            ).join(
                stored.select(
                    "conv_id",
                    F.col("written_version").alias("prev_wv"),
                    F.col("edges_wv").alias("prev_ewv"),
                ),
                "conv_id",
                "left",
            )
            # legacy upgrade path (ADVICE r4, high): a pre-delta snapshot has
            # no written_version column, so prev_wv is NULL for unchanged
            # conversations — carrying that NULL forward would make version
            # resolution drop their rows on the NEXT run. Their facts live in
            # the legacy full part, which table_parts surfaces as parts[0];
            # coalesce the pointer to its version.
            wv_col = (
                F.when(F.col("status").isin("new", "changed"), F.lit(version))
                .otherwise(
                    F.coalesce(
                        F.col("prev_wv"), F.lit(facts_parts[0]["version"])
                    )
                )
                .cast("bigint")
            )
        else:
            wv_col = F.lit(version).cast("bigint")
        # edges pointer: NULL when no versioned edge parts exist (out_dir
        # unset); the run's version on a full rewrite; per-conversation on a
        # delta/carry run — this run's version for edge-dirty conversations,
        # the previous pointer otherwise (coalesced to the oldest part for
        # pre-pointer snapshots, the same legacy rule as written_version)
        if edges_parts_new is None:
            ewv_col = F.lit(None).cast("bigint")
        elif edge_dirty_ids is None:
            ewv_col = F.lit(version).cast("bigint")
        else:
            base = base.join(
                edge_dirty_ids.withColumn("_edirty", F.lit(True)), "conv_id", "left"
            )
            ewv_col = (
                F.when(F.col("_edirty"), F.lit(version))
                .otherwise(
                    F.coalesce(
                        F.col("prev_ewv"), F.lit(edges_parts_prev[0]["version"])
                    )
                )
                .cast("bigint")
            )
        return base.select(
            "conv_id",
            "content_hash",
            F.lit("materialize").alias("stage"),
            F.lit("pending").alias("snapshot_id"),
            F.col("rows_in"),
            F.lit(n_triples).alias("rows_out"),
            errors_col.cast("bigint").alias("errors"),
            wv_col.alias("written_version"),
            ewv_col.alias("edges_wv"),
            F.col("src_files"),
        )

    facts_path = None
    links_path = None
    chunks_path = None
    facts_parts_new = None
    chunks_parts_new = None
    edges_parts_new = None
    linkmap_path = None
    canon_path = None
    vocab_path = None
    if out_dir:
        # versioned paths: never overwrite the snapshot a lazy prev_* plan
        # may still be reading (Iceberg snapshots give this for free)
        if chunks is not None:
            if noop_delta:
                chunks_parts_new = list(chunks_parts)
                chunks_path = chunks_parts_new[-1]["path"]
            elif chunks_future is not None:
                # sink ran overlapped since the extraction checkpoint —
                # join the background write here (raises on failure); the
                # write_chunks stamp therefore measures residual wait only
                chunks_future.result()
                chunks_future = None
                chunks_path = chunks_path_bg
                new_part = {"path": chunks_path, "version": version}
                chunks_parts_new = (
                    list(chunks_parts) + [new_part]
                    if (delta_mode and not compact)
                    else [new_part]
                )
            else:
                chunks_path = f"{out_dir}/chunks_v{version:06d}"
                new_part = {"path": chunks_path, "version": version}
                if delta_mode and not compact:
                    # chunks were computed over the dirty conversations
                    # only — the delta IS the table to write
                    chunks_parts_new = list(chunks_parts) + [new_part]
                else:
                    if delta_mode:
                        # compaction: fold unchanged conversations' rows
                        # from every previous part into one full part
                        # (embeddings still never recomputed — reloaded,
                        # not re-derived)
                        chunks = chunks.unionByName(
                            _reload_parts(spark, chunks_parts, unchanged_ids, stored),
                            allowMissingColumns=True,
                        )
                    chunks_parts_new = [new_part]
                chunks.write.mode("overwrite").parquet(chunks_path)
        _stamp("write_chunks")
        # ---- edge/node sinks: the gate above decided carry/delta/full ---
        from coco_search_spark.operators.materialize import write_edges, write_nodes

        # independent sinks are collected as thunks and submitted together
        # (guide §2.6): every sink writes its own directory from inputs
        # already materialized (or delta-sized), so the write stage costs
        # ≈max(sink) wall instead of sum(sink)
        sinks: list = []
        if store is None:
            # storeless layout (write_graph semantics): no manifest to
            # version against, no indexed reader → no conv_id sort
            sinks.append(
                (
                    "edges",
                    lambda: write_edges(
                        edges, f"{out_dir}/edges", sort_by_conv=False
                    ),
                )
            )
            sinks.append(
                ("nodes", lambda: write_nodes(nodes_future.result()[0], out_dir))
            )
        else:
            if carry_edges:
                edges_parts_new = list(edges_parts_prev)
            elif edge_dirty_ids is not None:
                epath = f"{out_dir}/edges_v{version:06d}"
                sinks.append(
                    (
                        "edges",
                        lambda p=epath: write_edges(
                            edges_dirty, p, delta_sized=True
                        ),
                    )
                )
                edges_parts_new = list(edges_parts_prev) + [
                    {"path": epath, "version": version}
                ]
            else:
                epath = f"{out_dir}/edges_v{version:06d}"
                sinks.append(("edges", lambda p=epath: write_edges(edges, p)))
                edges_parts_new = [{"path": epath, "version": version}]
            if nodes_future is not None:  # ⇔ not a carry run
                # the thunk joins the background node resolution (delta
                # checkpoint or full build), THEN overwrites the dir — the
                # old-nodes read the delta plan needs is materialized first
                sinks.append(
                    (
                        "nodes",
                        lambda: write_nodes(
                            nodes_future.result()[0], out_dir, version=version
                        ),
                    )
                )
            if canon_reused:
                canon_path = snap.get("canon_path")
            else:
                # persisted canon labels: the value the next run reloads
                # when its canon-input fingerprint matches (vocabulary-
                # sized — full rewrite when recomputed, same policy as
                # the link map)
                canon_path = f"{out_dir}/canon_v{version:06d}"
                sinks.append(
                    (
                        "canon",
                        lambda p=canon_path: canon.write.mode(
                            "overwrite"
                        ).parquet(p),
                    )
                )
            if (
                noop_delta
                and n_deleted == 0
                and snap is not None
                and snap.get("vocab_path")
                and isinstance(prev_kind_totals, dict)
            ):
                # identical corpus (no dirty, no deleted): the
                # persisted vocabulary is value-identical — carry the
                # pointer instead of rewriting the same bytes
                vocab_path = snap["vocab_path"]
            else:
                # refcounted vocabulary for next-run delta maintenance:
                # vocabulary-sized, full rewrite per run (same policy
                # as the link map); seeded from the corpus union on
                # full/fallback runs, carried forward arithmetically on
                # delta runs
                from coco_search_spark.operators.vocab_state import vocab_contrib

                vocab_path = f"{out_dir}/vocab_v{version:06d}"
                sinks.append(
                    (
                        "vocab",
                        lambda p=vocab_path, df=(
                            vocab if vocab is not None else vocab_contrib(combined)
                        ): df.write.mode("overwrite").parquet(p),
                    )
                )
            if n_moved == 0:
                # the link map is value-identical to the persisted copy —
                # carry the pointer instead of rewriting the same bytes
                linkmap_path = snap.get("linkmap_path")
            else:
                # persisted mention→canon map: the value the next run's
                # edge-delta gate diffs against (vocabulary-sized — full
                # rewrite per run is cheap, same policy as links)
                linkmap_path = f"{out_dir}/linkmap_v{version:06d}"
                sinks.append(
                    (
                        "linkmap",
                        lambda p=linkmap_path: link_map.write.mode(
                            "overwrite"
                        ).parquet(p),
                    )
                )
        # the COMBINED fact table (triples + standalone mentions +
        # bindings, kind-tagged) is the resume unit — restoring triples
        # alone would drop the other families for unchanged convs
        if noop_delta:
            facts_parts_new = list(facts_parts)
            facts_path = facts_parts_new[-1]["path"]
        else:
            facts_path = f"{out_dir}/facts_v{version:06d}"
            new_part = {"path": facts_path, "version": version}
            if delta_mode and not compact:
                # the delta IS the extraction checkpoint: segments were
                # scoped to the dirty conversations, so this equals the
                # old corpus-union semi-join row for row without the
                # corpus scan
                facts_parts_new = list(facts_parts) + [new_part]
            else:
                facts_parts_new = [new_part]
            if facts_future is not None:
                # sink ran overlapped since the extraction checkpoint
                # (same path/content as the sequential write would use)
                sinks.append(("facts", facts_future.result))
            else:
                # compaction fold (or a path the bg launch declined)
                facts_out = (
                    dirty_facts if (delta_mode and not compact) else combined
                )
                sinks.append(
                    (
                        "facts",
                        lambda p=facts_path, df=facts_out: df.write.mode(
                            "overwrite"
                        ).parquet(p),
                    )
                )
        if catalog is not None:
            if (
                prev_links is not None
                and n_links_fresh == 0
                and (noop_delta or canon_reused)
            ):
                # the previous link table is value-identical — carry the
                # pointer instead of rewriting the vocabulary-sized table.
                # Exactness needs the SURFACE SET unchanged, not just zero
                # fresh scores (a shrunk vocabulary leaves n_fresh at 0
                # while the old table holds stale extra rows): noop_delta
                # gives it by identical corpus, canon_reused by canon-input
                # fingerprint match (which covers the surface set).
                links_path = snap.get("links_path")
            else:
                # per-surface link table for next-run reuse: one row per
                # CURRENT vocabulary surface, entity_id NULL where linking
                # produced no row — the completeness makes the next run's
                # delta anti-join exact. Vocabulary-sized (never
                # delta-split: a full rewrite of a vocabulary-sized table
                # is cheap and the table is global, not per-conversation);
                # versioned like facts so a lazy reader of the previous
                # snapshot survives.
                links_path = f"{out_dir}/links_v{version:06d}"
                sinks.append(
                    (
                        "links",
                        lambda p=links_path: surfaces.select(
                            F.col("surface").alias("mention")
                        )
                        .join(surface_links, "mention", "left")
                        .write.mode("overwrite")
                        .parquet(p),
                    )
                )
        if store is not None and cur_hashes is not None:
            # every input of the state-table rows (diff, version pointers,
            # edge-dirty flags, quarantine error counts) is final here —
            # materialize them concurrently with the sinks so the commit
            # after the write stage only writes the checkpointed rows
            state_rows_future = bg_pool.submit(
                lambda: _build_state_rows().localCheckpoint(eager=True)
            )
        if sinks:
            with _TPE(max_workers=min(4, len(sinks))) as wpool:

                def _run_sink(name_fn):
                    name, fn = name_fn
                    with _job_description(spark, f"sink: {name}"):
                        fn()

                futs = [wpool.submit(_run_sink, nf) for nf in sinks]
                for f in futs:
                    f.result()
        _stamp("write_graph_triples")

    # join the overlapped quarantine sink (launched next to the chunk sink;
    # raises here on failure), then the background node resolution — the
    # write-stage nodes sink already joined it when sinks ran; with no
    # out_dir this is where the build is forced (the old inline position's
    # only remaining consumer is metrics/result)
    n_quarantined, _ = quarantine_future.result()
    if nodes_future is not None:
        nodes, nodes_mode = nodes_future.result()
    bg_pool.shutdown()

    metrics = {
        "n_triples": n_triples,
        "n_standalone_mentions": n_standalone,
        "snapshot_age_sec": snapshot_age,
        "n_unchanged_convs": n_unchanged,
        "n_quarantined_turns": n_quarantined,
        "n_surfaces": n_surfaces,
        "n_table_parts": len(facts_parts_new) if facts_parts_new else None,
        "compacted": compact,
        "n_links_fresh": n_links_fresh,
        "n_links_reused": n_links_reused,
        "canon_reused": canon_reused,
        # edge-delta receipt: None ⇒ full edge rewrite (cold run, no
        # persisted link map, or vocabulary-scale cluster churn)
        "n_edge_dirty_convs": n_edge_dirty,
        "n_link_moved_surfaces": n_moved,
        "n_edge_parts": len(edges_parts_new) if edges_parts_new else None,
        # scan-pruning receipt: None ⇒ full scan (cold run, non-file input,
        # or a pruning gate declined)
        "n_files_scanned": len(prune.scanned_files) if prune is not None else None,
        "n_files_total": prune.n_files_total if prune is not None else None,
        "n_files_changed": prune.n_changed_files if prune is not None else None,
        # carry runs count the (current) on-disk table instead of forcing
        # the lazy full rebuild held for res.nodes consumers
        "n_nodes": (
            spark.read.parquet(old_nodes_path).count()
            if nodes_mode == "carry"
            else nodes.count()
        ),
        "nodes_mode": nodes_mode,
        # vocabulary receipt: "delta" ⇒ surfaces/bindings/standalone sets
        # and kind totals were maintained from the delta (no corpus-union
        # scan); "full" ⇒ recomputed; None ⇒ storeless
        "vocab_mode": vocab_mode,
        # lean ⇒ the corpus-wide fact union was never materialized this
        # run (dirty checkpoint + lazy part reads only)
        "lean_facts": lean_facts,
        "stage_timings": timings,
    }

    if store is not None and cur_hashes is not None:
        # rows were materialized concurrently with the sinks when possible
        # (state_rows_future); the commit then writes the checkpointed rows
        state_rows = (
            state_rows_future.result()
            if state_rows_future is not None
            else _build_state_rows()
        )
        # facts_path + producing-config provenance ride the SAME atomic
        # manifest write as the snapshot — a separate post-commit patch
        # would reopen the torn-write window
        from coco_search_spark import __version__
        from coco_search_spark.operators.extract import GRAMMAR_VERSION

        extra = {
            "config_hash": cfg_hash,
            "engine_version": __version__,
            "grammar_version": GRAMMAR_VERSION,
            "config": cfg.to_dict(),
        }
        if out_dir:
            # node-table provenance (ADVICE r5, high): the version whose
            # run produced {out}/nodes — this run's on a rewrite, carried
            # on a carry (the disk sidecar still matches it)
            extra["nodes_version"] = (
                version if nodes_future is not None else snap.get("nodes_version")
            )
        if facts_path:
            extra["facts_path"] = facts_path
            extra["facts_parts"] = facts_parts_new
        if links_path:
            extra["links_path"] = links_path
        if edges_parts_new:
            extra["edges_parts"] = edges_parts_new
        if linkmap_path:
            extra["linkmap_path"] = linkmap_path
        if canon_path:
            extra["canon_path"] = canon_path
            extra["canon_fp"] = canon_in_fp
        if vocab_path:
            # the refcounted vocabulary + per-kind fact totals the next
            # run's delta maintenance starts from (vocab_state.py)
            extra["vocab_path"] = vocab_path
            extra["fact_kind_counts"] = {k: int(v) for k, v in kind_counts.items()}
        if cur_manifest is not None:
            # per-file (size, mtime_ns) fingerprints: the next run's scan-
            # pruning baseline (Iceberg-snapshot analog — one entry per data
            # file, same cardinality as the snapshot log a real table
            # format maintains)
            extra["input_manifest"] = cur_manifest
            # every state row this commit writes carries a home set (hashed
            # with_files=True, or carried from a snapshot that passed the
            # same gate) — recording it here lets the next run skip the
            # per-run null-scan over the state table
            extra["src_files_complete"] = True
        if chunks_path:
            extra["chunks_path"] = chunks_path
            extra["chunks_parts"] = chunks_parts_new
        if catalog_fp:
            extra["catalog_fp"] = catalog_fp
        # expected_version: the versioned part dirs above were sized for
        # `version` — a concurrent commit since the run started would make
        # this manifest reference a mix of two runs' files (optimistic
        # concurrency; commit raises instead of publishing)
        snapshot_id = store.commit(
            state_rows, stage="materialize", extra=extra, expected_version=version
        )
        _fine("commit")
        metrics["snapshot_id"] = snapshot_id

    # Drop the run-scoped state-diff caches. These never outlive the run
    # (the commit above materialized everything derived from them), and
    # leaving them cached is a CORRECTNESS hazard for the next run in the
    # same session: cur_hashes' plan on a full-scan run is just
    # conversation_hashes(<input scan>) — state-independent — so Spark's
    # CacheManager would match a later run's identical plan and serve THIS
    # run's hashes even after the input files changed (diff → all
    # unchanged, updates silently dropped). Result-exposed caches (triples,
    # edges, nodes) stay: their plans include the per-run dirty_ids
    # checkpoint or version-pathed state reads, which never collide.
    for _df in (cur_hashes, stored):
        if _df is not None:
            _df.unpersist()
    if store is not None and cur_hashes is not None:
        diff.unpersist()

    return PipelineResult(
        triples=triples, links=links_raw, canon=canon, edges=edges, nodes=nodes, metrics=metrics
    )
