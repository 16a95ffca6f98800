"""The driver adjudicates the FIRST 50 entries of queries() in dict order
(observed r1-r16). These tests pin the round-17 rotation: the staged r17 plan
frozen in round 16 is activated VERBATIM (canary trio; the 10 r12-proven
veterans rolled past r16; the round-16 changed-file re-proofs — promotion
rail, index-lake cache consumers, bucketed rail, literal SemDeDup pair; the
FOUR round-16 additions that registered after the r16 window froze — the r16
verdict's only claimed-but-unproven surface; 17 r13-stale veterans), then
round-17 work appends to the r18 plan as it lands. Every window name resolves
to a registered query WITH an oracle (rows-only queries may exist in the
registry, but a window slot without an oracle would burn driver evidence on a
weaker rows-only check — keep them out).

STANDING RULE (codified per the round-7 verdict, made ROUND-AGNOSTIC per the
round-8 verdict): any query whose implementing code changes in round N must
appear in round N's active window OR in ADJUDICATION_WINDOW_NEXT_PLAN (the
round-N+1 head). The rule is now enforced mechanically:
``test_changed_source_files_have_scheduled_driver_evidence`` git-diffs the
package source against the last round-boundary commit ("round N: verdict/…",
written by the driver at every round close) and requires each changed source
file to carry an entry in _FILE_EVIDENCE mapping it to the queries that
adjudicate it — and those queries to be scheduled. Maintain _FILE_EVIDENCE as
code changes land; the test fails on any unmapped changed file, so the rule
survives round turnover without per-round test rewrites.
"""

from __future__ import annotations

import subprocess
from pathlib import Path

from airflow_courier_payout_ledger_pipeline_spark.registry import (
    ADJUDICATION_WINDOW_FIRST,
    ADJUDICATION_WINDOW_NEXT_PLAN,
    all_oracles,
    all_queries,
)

WINDOW = 50
CANARY = {"courier_ledger", "courier_ledger_sql", "incremental_mart_maintenance"}

#: staged from round 16 — the r17 active window must land fresh driver rows
#: on these: the 4 round-16 additions registered after the r16 window froze
#: (the r16 verdict's only claimed-but-unproven surface, next-round item 1)
#: plus the changed-file re-proofs that travel with them
_STAGED_FOR_R17 = {
    # 4 round-16 post-freeze additions — first driver rows land in r17
    "ann_index_vacuumed_search",
    "bm25_search_vacuumed",
    "substring_search_vacuumed",
    "semdedup_pairs_incremental",
    # promotions.py changed-file re-proofs (dm_timestamps single-writer split)
    "scd1_upsert",
    "scd0_insert_ignore",
    "incremental_promotion",
}

#: the 24 r13-proven veterans that rolled past the r17 window (r16 verdict
#: next-round item 4) — must hold their slots at the head of the r18 plan
_ROLLED_TO_R18 = {
    "similarity_ivf_pq_trained",
    "similarity_ivf_pq_residual",
    "pq_recall_eval",
    "ivf_index_maintenance",
    "similarity_ann_multiprobe",
    "ann_recall_multiprobe",
    "streaming_ivf_maintenance",
    "event_windows_sliding",
    "event_sessionization",
    "distribution_stats",
    "range_join_incidents",
    "fuzzy_name_pairs",
    "profile_documents",
    "pivot_event_counts",
    "dedup_bloom_probe",
    "image_png_features",
    "image_content_dedup",
    "similarity_ivf_nprobe2",
    "mix_epochs_report",
    "contrastive_triplets",
    "dedup_span_profile",
    "dataset_card",
    "grouped_split_assign",
    "score_quantile_norm",
}

# ------------------------------------------------------------------------------------
# Round-agnostic standing-rule enforcement
# ------------------------------------------------------------------------------------

#: package source file (repo-relative) -> queries that serve as its driver
#: evidence. Every file the CURRENT round touches must have an entry here,
#: and each mapped query must sit in the active window or the next-round
#: plan. Entries for files untouched this round are inert (kept as history).
_FILE_EVIDENCE: dict[str, set[str]] = {
    # round-10: cms_state_grouped added (day-grain sketch fleets); the
    # existing build/merge/probe paths re-adjudicate alongside the rollup
    "airflow_courier_payout_ledger_pipeline_spark/operators/sketch.py": {
        "heavy_hitters",
        "cms_state_migration",
        "heavy_users_rolling_7d",
    },
    # round-10 split: the former monolithic queries_ext.py became an
    # import-only aggregator over 14 domain modules (pure move; registry
    # contents asserted byte-identical at split time and by the full
    # oracle-parity suite). Each module maps to representative driver
    # evidence; modules whose queries were all proven-but-unscheduled got one
    # representative appended to the r11 plan.
    "airflow_courier_payout_ledger_pipeline_spark/queries_ext_text.py": {
        "bpe_merges",
        "bpe_token_counts",
        "vocab_counts",
        "ngram_contamination",
    },
    # round-13: dropped-bucket accounting registration (new query; r14 head)
    "airflow_courier_payout_ledger_pipeline_spark/queries_ext_dedup.py": {
        "dedup_lsh_dropped_buckets",
    },
    # round-13: lsh_dropped_buckets added (candidate path untouched; the new
    # report query adjudicates the addition from the r14 plan head)
    "airflow_courier_payout_ledger_pipeline_spark/operators/dedup.py": {
        "dedup_lsh_dropped_buckets",
    },
    # round-14: index-served kNN labeling + agreement eval registered; the
    # r15 window carries their first driver rows (evidence sets track the
    # CURRENT round's changes)
    # round-15: semdedup_pairs_indexed registered (SemDeDup from the
    # persisted index's trained quantizer — r16 head) and the shared pair
    # CTEs parameterized on the centroid source; the in-window
    # semdedup_pairs / semdedup_prune_end_to_end re-prove the literal form
    # over the refactored CTEs
    # round-15 (cont.): superseded artifact-cache entries evict with their
    # mkdtemp roots; the streaming scratch dir cleans at exit — the
    # in-window persisted-index consumers drive the changed cache paths
    # round-16: the living incremental lake extracted into _ann_inc_lake,
    # the compacted form derives from it (clone + compact), and the NEW
    # ann_index_vacuumed_search puts retention_sweep under driver evidence
    # round-17: _emb_stat_key delegates to idxcache.stat_key (r16 verdict
    # item 6) — the in-window indexed/eval consumers drive every cache-keyed
    # rail (the compacted twin shares the same derive path)
    "airflow_courier_payout_ledger_pipeline_spark/queries_ext_similarity.py": {
        "knn_label_vote_indexed",
        "knn_vote_agreement_indexed",
        "knn_accuracy_curve_indexed",
        "hybrid_search_rrf_dual_indexed",
        "semdedup_pairs",
        "semdedup_prune_end_to_end",
        "ann_index_persisted_search",
        "ann_index_incremental_extend",
        "ann_index_vacuumed_search",
        "semdedup_pairs_incremental",
    },
    # round-13: NEW module — second-moment matrix, dimension-correlation
    # audit, deterministic power-iteration dominant direction
    "airflow_courier_payout_ledger_pipeline_spark/operators/linalg.py": {
        "embedding_dim_correlation",
        "embedding_dominant_direction",
    },
    # round-12: NEW module — the persisted residual IVF-PQ index (build/
    # publish via commit_multi, search from committed codes)
    # round-13: empty-build wipe guard (force_empty) + two-stage refine
    # search from the committed index (refine_search_residual_ivfpq_index)
    # round-14: O(increment) extend WRITE (stage only the increment's codes
    # dir, commit a multi-file version) + compact_residual_ivfpq_codes —
    # the extend/search consumers re-prove from the r15 head
    # round-16: invalidate_artifact_caches eviction hook +
    # committed_assignments (the codes table's coarse half, public for the
    # incremental dedup rail) — both additive; the persisted-index
    # consumers and the new incremental-SemDeDup query adjudicate
    "airflow_courier_payout_ledger_pipeline_spark/operators/annindex.py": {
        "ann_index_persisted_search",
        "ann_index_incremental_extend",
        "similarity_pq_refine_topk",
        "knn_label_vote_indexed",
        "knn_vote_agreement_indexed",
        "knn_accuracy_curve_indexed",
        "semdedup_pairs_incremental",
    },
    # round-13: exact_rerank extracted from ivf_pq_residual_refine_topk —
    # that round's trained/eval family re-adjudicated then (history).
    # round-16: semdedup_pairs_incremental ADDED (purely additive — the
    # existing semdedup_pairs/assignment/pair code is untouched); the
    # evidence set tracks the CURRENT round's change: the new query plus
    # the semdedup family whose shared helpers it reuses
    "airflow_courier_payout_ledger_pipeline_spark/operators/similarity.py": {
        "semdedup_pairs_incremental",
        "semdedup_pairs",
        "semdedup_pairs_indexed",
        "semdedup_prune_end_to_end",
        "similarity_pq_refine_topk",
        "similarity_topk",
        "similarity_pq_adc_trained",
    },
    # round-12: multi-table commit manifest (stage_version/commit_manifest/
    # read_committed + manifest-aware vacuum and _next_version); the
    # versioned-snapshot and SCD paths it extends adjudicate via the canary
    # mart fold + the SCD/promotion veterans in the r13 plan
    # round-13: write_bucketed/read_bucketed rail + manifest-pinned vacuum —
    # courier_ledger_bucketed (r14 head) is the query that actually drives
    # the bucketed-write path; the mart/SCD veterans cover the rest
    # round-14: multi-file table versions (manifest values may be version
    # LISTS, read_committed unions the dirs, _manifest_refs pins every
    # member) — the extend consumers drive the new shape from the r15 head,
    # the SCD/promotion veterans re-prove the single-version rails
    "airflow_courier_payout_ledger_pipeline_spark/sources/lakehouse.py": {
        "incremental_mart_maintenance",
        "scd1_upsert",
        "scd0_insert_ignore",
        "incremental_promotion",
        "courier_ledger_bucketed",
    },
    # round-12: M3 docstring cross-reference to the commit manifest
    # (comment-only; the job's queries carry the evidence)
    # round-13: fct DDL gate (fact_checks quarantine) on the fact write +
    # UNIQUE gate and mart persist in courier_ledger_update_job — the
    # promotion rail's queries re-prove in the r13 window; the gate's
    # behavior is pinned by tests/test_validate.py's pipeline tests
    # round-16: dm_timestamps single-writer split (the r15 verdict item-1
    # parallel double-insert fix) — the promotion rail re-proves from the
    # r17 head; the split itself is pinned by
    # test_pipeline.py::test_dim_feeders_are_single_writer_per_table
    "airflow_courier_payout_ledger_pipeline_spark/plans/promotions.py": {
        "incremental_promotion",
        "scd1_upsert",
        "scd0_insert_ignore",
    },
    # round-16: the DAG's dims-group parallel claim corrected to the
    # single-writer-per-table argument (docstring + task wiring only; the
    # DAG is import-gated and never driver-adjudicated — its jobs are, via
    # the promotion rail's queries)
    # driver-side watermark store (pyarrow, atomic replace, forward-only) and
    # session-zone cursor binding: the promotion rail's cursor queries carry
    # the S5/S6 pattern; the store itself is pinned by tests/test_watermark.py
    # and the zone independence by
    # test_pipeline.py::test_chain_does_not_depend_on_driver_time_zone
    "airflow_courier_payout_ledger_pipeline_spark/operators/watermark.py": {
        "incremental_promotion",
        "watermark_cursor",
        "watermark_filter",
    },
    # Arrow-built bronze frames (records_to_bronze, pinned by the pipeline
    # tests); the distributed fetch path is unchanged and re-proves the module
    "airflow_courier_payout_ledger_pipeline_spark/sources/rest.py": {
        "rest_page_fetch_distributed",
        "incremental_promotion",
    },
    # empty_frame: never-written tables read as an empty Arrow-built
    # LocalRelation — the first-batch state reads of the streaming folds and
    # the cold-start reads of the index rail
    "airflow_courier_payout_ledger_pipeline_spark/session.py": {
        "streaming_quantile_maintenance",
        "streaming_mad_audit",
        "ann_index_persisted_search",
        "ann_index_incremental_extend",
    },
    # JdbcWarehouse's missing-table read goes through empty_frame; no registry
    # query runs over JDBC (tests/test_jdbc.py pins the backend), so the SCD
    # rails it mirrors carry the driver evidence
    "airflow_courier_payout_ledger_pipeline_spark/sources/jdbc.py": {
        "scd1_upsert",
        "scd0_insert_ignore",
    },
    "airflow_courier_payout_ledger_pipeline_spark/plans/dag.py": {
        "incremental_promotion",
        "scd1_upsert",
        "scd0_insert_ignore",
    },
    # round-13: FCT_DELIVERIES_QUARANTINE_SCHEMA added (declaration only;
    # consumed by the promotion rail above)
    "airflow_courier_payout_ledger_pipeline_spark/schemas.py": {
        "incremental_promotion",
    },
    "airflow_courier_payout_ledger_pipeline_spark/queries_ext_events.py": {
        "event_windows_tumbling",
        # round-10: forward-horizon as-of registration
        "asof_join_forward_tolerance",
        # round-10: linear attribution registration
        "attribution_linear",
        # round-11: nearest-direction as-of registration
        "asof_join_nearest",
    },
    # round-10: direction/tolerance parameters added (backward default
    # byte-identical; both directions re-adjudicate in r11)
    # round-11: nearest direction added (backward/forward paths unchanged;
    # all three re-adjudicate)
    "airflow_courier_payout_ledger_pipeline_spark/operators/asof.py": {
        "asof_join_events",
        "asof_join_forward_tolerance",
        "asof_join_nearest",
    },
    "airflow_courier_payout_ledger_pipeline_spark/queries_ext_curation.py": {
        "zorder_incremental_compaction",
        "training_shards_end_to_end",
        "training_shard_layout",
        "sequence_packing",
        "stratified_sample",
    },
    "airflow_courier_payout_ledger_pipeline_spark/queries_ext_state.py": {
        "streaming_bloom_maintenance",
        "quantile_state_maintenance",
        "streaming_quantile_maintenance",
        "sample_state_maintenance",
        "streaming_sample_maintenance",
        "kmv_distinct_users",
        "kmv_user_overlap",
        "document_chunks",
        "mad_outlier_audit",
        "streaming_mad_audit",
        "weighted_sample_per_source",
        # round-10 additions (r11 plan): day-grain state rollups -> rolling
        # 7-day readouts (KMV sketch + exact histogram + CMS heavy hitters)
        "kmv_rolling_7d_distinct",
        "quantile_rolling_7d",
        "heavy_users_rolling_7d",
    },
    "airflow_courier_payout_ledger_pipeline_spark/queries_ext_multimodal.py": {
        "multimodal_features",
        "video_frame_sample",
        # round-10: dHash near-dup registration
        "image_dhash_near_dup",
    },
    # round-10: dhash_images + virtual-picture synth appended; the decode /
    # resize / feature paths are untouched and stay adjudicated by the
    # module's in-window queries
    "airflow_courier_payout_ledger_pipeline_spark/operators/multimodal.py": {
        "multimodal_features",
        "video_frame_sample",
        "image_dhash_near_dup",
    },
    "airflow_courier_payout_ledger_pipeline_spark/queries_ext_streaming.py": {
        "streaming_windows_tumbling",
        "streaming_dedup",
    },
    "airflow_courier_payout_ledger_pipeline_spark/queries_ext_pipeline.py": {
        "pii_scrub",
        "corpus_curation",
    },
    "airflow_courier_payout_ledger_pipeline_spark/queries_ext_analytics.py": {
        "rolling_7d_counts",
        "similarity_ivf_nprobe2",
        # round-10: closed-form trend registration
        "trend_slope_per_type",
    },
    "airflow_courier_payout_ledger_pipeline_spark/queries_ext_scale.py": {
        "salted_join_agg",
        "dedup_keep_best",
    },
    # round-16: NEW shared module — the index-lake cache plumbing (fresh
    # scratch lakes, superseded-entry eviction with annindex cache purge,
    # derived lakes for the compacted eval forms), one definition for both
    # query modules (r15 ADVICE).
    # round-17: stat_key(path) extracted (r16 verdict item 6) — both query
    # modules' cache keys now build through one definition; the in-window
    # living-index consumers + the vacuumed trio drive every cache path
    "airflow_courier_payout_ledger_pipeline_spark/idxcache.py": {
        "bm25_search_indexed",
        "substring_search_indexed",
        "ann_index_persisted_search",
        "ann_index_vacuumed_search",
        "bm25_search_vacuumed",
        "substring_search_vacuumed",
    },
    # round-15: superseded index-lake cache entries now evict (rmtree) and
    # mkdtemp roots clean up at exit (the r14 ADVICE leak) — the three
    # cached-index consumers in the r15 window drive the changed cache path;
    # the two compacted-serve registrations (the compaction law in query
    # form) adjudicate from the r16 head
    # round-16: the cache helpers delegate to idxcache, the compacted lakes
    # derive from the cached living lakes (clone + compact), and the NEW
    # vacuumed serves put retention_sweep under driver evidence on both
    # lexical rails
    # round-17: _docs_stat_key delegates to idxcache.stat_key (r16 verdict
    # item 6) — the in-window living + vacuumed consumers drive every
    # cache-keyed rail (the compacted twins share the same derive path)
    "airflow_courier_payout_ledger_pipeline_spark/queries_ext_ops.py": {
        "bm25_search_indexed",
        "bm25_index_incremental_extend",
        "substring_search_indexed",
        "bm25_search_vacuumed",
        "substring_search_vacuumed",
    },
    # round-13: write_bucketed now delegates to the shared
    # bucketed_save_as_table chain (one definition with the Lakehouse rail);
    # the bucketed flagship drives it
    "airflow_courier_payout_ledger_pipeline_spark/plans/bucketing.py": {
        "courier_ledger_bucketed",
    },
    # round-13: NULL-key semantics of scd0_new_rows pinned to Postgres
    # UNIQUE/ON CONFLICT (NULL keys never conflict, never collapse) — the
    # SCD0/SCD1 veterans in the r13 window re-prove the non-null paths
    "airflow_courier_payout_ledger_pipeline_spark/operators/merge.py": {
        "scd0_insert_ignore",
        "scd1_upsert",
        "incremental_promotion",
    },
    # round-15: rrf_fuse's leg-bound guard re-shaped (single-action collect
    # of the tagged bounded union — no pinned checkpoint blocks, per-leg ROW
    # counts) + shortlist/max_queries guards on the indexed labeling/eval
    # rails. The dual-indexed fusion + indexed-kNN trio re-prove the changed
    # paths in the r15 window; the live and single-indexed fusion consumers
    # re-prove the same rrf_fuse code from the r16 head
    "airflow_courier_payout_ledger_pipeline_spark/operators/search.py": {
        "hybrid_search_rrf",
        "hybrid_search_rrf_indexed",
        "hybrid_search_rrf_dual_indexed",
        "knn_label_vote_indexed",
        "knn_vote_agreement_indexed",
        "knn_accuracy_curve_indexed",
    },
    # round-14: NEW module — the persisted BM25 postings index
    # round-15: compact_trigram_index added (the bm25/codes compaction twin);
    # compact_bm25_index takes spark explicitly; _empty_result derives the id
    # type from the committed doclen field — the four indexed queries in the
    # r15 window drive every changed rail
    "airflow_courier_payout_ledger_pipeline_spark/operators/textindex.py": {
        "bm25_search_indexed",
        "bm25_index_incremental_extend",
        "hybrid_search_rrf_dual_indexed",
        "substring_search_indexed",
        "bm25_search_compacted",
        "substring_search_compacted",
    },
    "airflow_courier_payout_ledger_pipeline_spark/queries_ext_audit.py": {
        "event_pagerank",
    },
    "airflow_courier_payout_ledger_pipeline_spark/queries_ext_selection.py": {
        "dsir_importance",
        "dsir_resample",
    },
    # round-9: mergeable bottom-k priority-sample state (new module);
    # continuation added the KMV set-operation readout
    "airflow_courier_payout_ledger_pipeline_spark/operators/sample.py": {
        "sample_state_maintenance",
        "streaming_sample_maintenance",
        "kmv_distinct_users",
        "weighted_sample_per_source",
        "kmv_user_overlap",
    },
    # round-9 continuation: sliding-window document chunking appended to the
    # BPE module (train/encode paths untouched — their queries stay mapped)
    "airflow_courier_payout_ledger_pipeline_spark/operators/tokenize.py": {
        "document_chunks",
        "bpe_merges",
        "bpe_token_counts",
    },
    # round-9: mergeable Bloom membership state (new module)
    "airflow_courier_payout_ledger_pipeline_spark/operators/bloom.py": {
        "dedup_bloom_probe",
        "streaming_bloom_maintenance",
    },
    # round-18: schema-memo eviction hardening (evict_superseded on miss, no
    # caching of unstat-able paths — r17 ADVICE). Every query reads through
    # load_tables, so the canary trio adjudicates the adapter.
    "airflow_courier_payout_ledger_pipeline_spark/plans/tpch_adapter.py": {
        "courier_ledger",
        "courier_ledger_sql",
        "incremental_mart_maintenance",
    },
    # round-9: one-parse array literals (consumed by the DSIR ratio lookup,
    # the bloom word probe, and the CMS probe arrays — their driver rows
    # adjudicate it)
    "airflow_courier_payout_ledger_pipeline_spark/functions/literals.py": {
        "dsir_importance",
        "dedup_bloom_probe",
        "cms_state_migration",
    },
    # round-9: components edge-list pin + pointer-jumping shortcut
    "airflow_courier_payout_ledger_pipeline_spark/operators/graph.py": {
        "dedup_components",
        "event_pagerank",
    },
    # round-10: deterministic z-ordered file layout + incremental compaction
    # (zorder_values adjudicates the untouched morton key path)
    "airflow_courier_payout_ledger_pipeline_spark/operators/layout.py": {
        "zorder_values",
        "zorder_incremental_compaction",
    },
    # round-9: mergeable exact-quantile histogram state (new module);
    # continuation added the MAD outlier readout
    "airflow_courier_payout_ledger_pipeline_spark/operators/quantile.py": {
        "quantile_state_maintenance",
        "streaming_quantile_maintenance",
        "mad_outlier_audit",
        "streaming_mad_audit",
    },
    # round-9: streaming drain startup shave (shared harness → the benched
    # drain re-proves the family)
    "airflow_courier_payout_ledger_pipeline_spark/streaming/events.py": {
        "streaming_windows_tumbling",
    },
    # round-9: DSIR importance/resample fusion or profiling changes
    "airflow_courier_payout_ledger_pipeline_spark/operators/sampling.py": {
        "dsir_importance",
        "dsir_resample",
        # continuation: deterministic training-shard layout appended
        "training_shard_layout",
        "sequence_packing",
        "stratified_sample",
    },
}

#: files whose changes never need per-query driver evidence: the window
#: definition itself, package metadata, and docs. (bench.py, tests/, and
#: repo-root files are outside the diffed path entirely.)
_EVIDENCE_EXEMPT = {
    "airflow_courier_payout_ledger_pipeline_spark/registry.py",
    "airflow_courier_payout_ledger_pipeline_spark/__init__.py",
    # round-10: the former monolith is now an import-only aggregator (no
    # query logic; the domain modules above carry the evidence)
    "airflow_courier_payout_ledger_pipeline_spark/queries_ext.py",
}

_REPO_ROOT = Path(__file__).resolve().parent.parent


def _changed_package_files() -> set[str]:
    """Package .py files changed since the last driver round-boundary commit
    (commit subject "round N: verdict/advice/correctness/bench"). Returns an
    empty set when no boundary commit exists (fresh clone / CI shallow)."""
    try:
        base = subprocess.run(
            ["git", "log", "--grep", "^round [0-9]*:", "-n", "1", "--format=%H"],
            cwd=_REPO_ROOT,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.strip()
        if not base:
            return set()
        out = subprocess.run(
            [
                "git",
                "diff",
                "--name-only",
                f"{base}..HEAD",
                "--",
                "airflow_courier_payout_ledger_pipeline_spark/",
            ],
            cwd=_REPO_ROOT,
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        # uncommitted work counts too — the rule is about the round, not HEAD
        out2 = subprocess.run(
            [
                "git",
                "diff",
                "--name-only",
                "HEAD",
                "--",
                "airflow_courier_payout_ledger_pipeline_spark/",
            ],
            cwd=_REPO_ROOT,
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        return {
            f for f in (out + out2).splitlines() if f.strip().endswith(".py")
        }
    except (subprocess.CalledProcessError, FileNotFoundError):
        return set()


def test_changed_source_files_have_scheduled_driver_evidence():
    """STANDING RULE, round-agnostic form: every package source file changed
    this round (vs the last round-boundary commit) must map, via
    _FILE_EVIDENCE, to queries scheduled in the active window or the
    next-round plan — changed code with no scheduled driver row is
    unadjudicated evidence debt (the round-6 lesson: the capped SemDeDup path
    landed green without its new code ever running)."""
    changed = _changed_package_files() - _EVIDENCE_EXEMPT
    unmapped = sorted(f for f in changed if f not in _FILE_EVIDENCE)
    assert not unmapped, (
        f"changed source files with no _FILE_EVIDENCE entry: {unmapped} — "
        "map each to the queries that adjudicate it"
    )
    scheduled = set(ADJUDICATION_WINDOW_FIRST[:WINDOW]) | set(
        ADJUDICATION_WINDOW_NEXT_PLAN
    )
    q = all_queries()
    for f in sorted(changed):
        evidence = _FILE_EVIDENCE[f]
        registered = {n for n in evidence if n in q}
        assert registered, f"{f}: no _FILE_EVIDENCE query is registered yet"
        missing = sorted(registered - scheduled)
        assert not missing, (
            f"{f}: evidence queries not scheduled in the active window or "
            f"next plan: {missing}"
        )


def test_window_first_names_are_registered_with_oracles():
    q, o = all_queries(), all_oracles()
    missing_q = [n for n in ADJUDICATION_WINDOW_FIRST if n not in q]
    assert not missing_q, f"window names without a query: {missing_q}"
    # a window slot without an oracle would downgrade to a rows-only check —
    # every in-window name must carry full hash-checked evidence
    no_oracle = [n for n in ADJUDICATION_WINDOW_FIRST if n not in o]
    assert not no_oracle, f"window names without an oracle: {no_oracle}"


def test_unproven_queries_lead_the_adjudication_window():
    order = list(all_queries())
    assert order[: len(ADJUDICATION_WINDOW_FIRST)] == ADJUDICATION_WINDOW_FIRST
    assert len(ADJUDICATION_WINDOW_FIRST) <= WINDOW, (
        "window list overflows the driver's first-50 adjudication window"
    )
    assert len(set(ADJUDICATION_WINDOW_FIRST)) == len(ADJUDICATION_WINDOW_FIRST)


def test_flagship_canary_stays_in_window():
    order = list(all_queries())[:WINDOW]
    assert CANARY <= set(order)


def test_staged_r17_queries_are_in_window():
    """Everything staged from round 16 (the 4 post-freeze round-16 additions
    — the only claimed-but-unproven surface — plus their changed-file
    re-proof companions) must sit in the active window: a registered query
    without a fresh driver row is unadjudicated."""
    assert _STAGED_FOR_R17 <= set(ADJUDICATION_WINDOW_FIRST[:WINDOW])


def test_rolled_r13_veterans_head_the_r18_plan():
    """The 24 r13-proven veterans displaced by the r17 window hold slots in the
    r18 plan (r16 verdict next-round item 4) — the rotation rule is that no
    query's newest evidence falls more than ~5 rounds stale."""
    assert _ROLLED_TO_R18 <= set(ADJUDICATION_WINDOW_NEXT_PLAN)


def test_queries_and_oracles_share_order():
    q, o = list(all_queries()), list(all_oracles())
    assert q[: len(o)] == o[: len(q)] or [n for n in q if n in set(o)] == o


def test_every_query_has_driver_evidence_or_a_window_slot():
    """No query may be unproven AND unscheduled: every registered query must be
    (a) green in some prior round, (b) in the active window, or (c) in the
    next-round plan. New additions therefore must be appended to
    ADJUDICATION_WINDOW_NEXT_PLAN or placed in the active window as they are
    registered."""
    q, o = all_queries(), all_oracles()
    covered = (
        _GREEN_EVER
        | set(ADJUDICATION_WINDOW_FIRST)
        | set(ADJUDICATION_WINDOW_NEXT_PLAN)
    )
    orphans = [n for n in q if n not in covered]
    assert not orphans, f"queries with no driver evidence and no window slot: {orphans}"
    missing = [n for n in ADJUDICATION_WINDOW_NEXT_PLAN if n not in q or n not in o]
    assert not missing, f"next-plan names without query/oracle: {missing}"
    assert len(ADJUDICATION_WINDOW_NEXT_PLAN) <= WINDOW
    assert CANARY <= set(ADJUDICATION_WINDOW_NEXT_PLAN)


#: queries with at least one fully-green driver row through round 8
#: (union of CORRECTNESS_r01-r08 green rows — recomputed at the r9 window
#: activation; all 134 queries registered through round 8 are driver-proven)
_GREEN_EVER = {
    # green r1-r3 (re-proven in later rotations)
    "json_extract", "json_struct_parse", "paged_scan", "watermark_filter",
    "timestamp_dim", "broadcast_enrich", "dim_lookup_join", "watermark_cursor",
    "filtered_agg", "tier_payout", "scd0_insert_ignore", "scd1_upsert",
    "rest_page_fetch_distributed", "incremental_promotion", "set_ops",
    "rollup_totals", "semi_anti_join", "grouping_sets_hourly",
    "price_histogram", "list_agg_priorities", "watermark_state", "text_stats",
    "lang_id", "doc_fingerprint", "dedup_exact", "minhash_signatures",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_two_stage",
    "dedup_simhash", "dedup_simhash_pairs", "dedup_components",
    "similarity_topk", "similarity_ann_bucketed", "embedding_near_dup",
    "similarity_ivf_topk", "event_windows_tumbling", "event_windows_sliding",
    "event_sessionization", "asof_join_events", "window_analytics",
    "distribution_stats", "range_join_incidents", "term_importance",
    "fuzzy_name_pairs", "profile_documents", "pivot_event_counts",
    "courier_ledger", "courier_ledger_sql", "incremental_mart_maintenance",
    # green r4 (rotated-in set + round-4 in-window additions)
    "deterministic_sample", "zorder_values", "topk_per_group",
    "stratified_sample", "dedup_incremental", "multimodal_features",
    "video_frame_sample", "repetition_stats", "quality_rules", "vocab_counts",
    "ngram_contamination", "streaming_windows_tumbling", "streaming_dedup",
    "streaming_compact_latest", "streaming_stream_join",
    "streaming_sessionization", "snapshot_diff_orders", "funnel_conversion",
    "key_skew_profile", "pii_scrub", "corpus_curation", "label_centroid_stats",
    "doc_chunking", "oov_rate", "per_source_cap", "streaming_ledger_maintenance",
    "cube_status_priority", "date_spine_fill", "rolling_7d_counts",
    "audio_features", "scd2_history", "retention_cohorts",
    "event_type_cooccurrence", "bigram_lm_score", "timeseries_interpolate",
    "dq_violation_report", "embedding_quantize", "daily_anomaly_zscore",
    "similarity_ivf_nprobe2", "salted_join_agg", "dedup_keep_best",
    "length_decile_bands", "partition_stats_manifest",
    "rolling_distinct_users_7d", "minhash_calibration", "decontaminated_corpus",
    # green r5 (r4-registered never-adjudicated set + fixed sequence_packing)
    "streaming_static_enrich", "target_mix_sample", "token_budget_cap",
    "dedup_cross_corpus", "cdc_apply_roundtrip", "event_transitions",
    "k_anonymity_audit", "value_winsorize", "weighted_sample",
    "dedup_span_profile", "split_leakage_audit", "score_quantile_norm",
    "sequence_packing",
    # green r6 (the 19 round-5 additions' first driver rows)
    "image_png_features", "similarity_pq_adc", "ann_recall_eval",
    "similarity_ivf_pq", "event_pagerank", "bpe_merges", "substring_search",
    "dedup_pq_hamming", "session_window_native", "mix_epochs_report",
    "bm25_search", "heavy_hitters", "bpe_token_counts",
    "contrastive_triplets", "semdedup_pairs", "grouped_split_assign",
    "dataset_card", "image_content_dedup", "ngram_containment",
    # green r8 (the 6 round-7 additions' first driver rows)
    "dsir_importance", "dsir_resample", "dedup_pq_hamming2",
    "dedup_span_scrub", "image_resize_features", "audio_resample_features",
    # green r9 (first driver rows for the two round-9 in-window additions;
    # the other 48 r9-green rows re-proved names already listed above)
    "cms_state_migration", "dedup_bloom_probe",
    # green r10 (first driver rows for the 12 round-9 additions staged into
    # the r10 window, plus the round-10 in-window additions; the remaining
    # r10-green rows re-proved names already listed above)
    "quantile_state_maintenance", "sample_state_maintenance",
    "weighted_sample_per_source", "kmv_distinct_users", "kmv_user_overlap",
    "document_chunks", "mad_outlier_audit", "training_shard_layout",
    "streaming_bloom_maintenance", "streaming_quantile_maintenance",
    "streaming_sample_maintenance", "streaming_mad_audit",
    "kmv_rolling_7d_distinct", "training_shards_end_to_end",
    "zorder_incremental_compaction",
    # green r11: first driver rows for the 8 round-10 additions staged into
    # the r11 window head...
    "semdedup_prune_end_to_end", "ivf_recall_eval",
    "asof_join_forward_tolerance", "attribution_linear",
    "quantile_rolling_7d", "heavy_users_rolling_7d", "image_dhash_near_dup",
    "trend_slope_per_type",
    # ...and for the ten round-11 additions, which adjudicated in the ACTIVE
    # r11 window the round they landed; the other r11-green rows re-proved
    # names already listed above
    "similarity_ivf_topk_trained", "ivf_recall_trained_vs_seeded",
    "similarity_pq_adc_trained", "similarity_ivf_pq_trained",
    "similarity_ivf_pq_residual", "pq_recall_eval", "ivf_index_maintenance",
    "asof_join_nearest", "similarity_ann_multiprobe", "ann_recall_multiprobe",
    # green r12: first driver row for the round-12 in-window addition (the
    # other r12-green rows re-proved names already listed above; the four
    # post-freeze round-12 additions land their first rows in r13)
    "ivfpq_residual_recall_multiprobe",
    # green r13 (CORRECTNESS_r13 50/50): first driver rows for the four
    # post-freeze round-12 additions; the other r13-green rows re-proved
    # names already listed above
    "streaming_ivf_maintenance", "ann_index_persisted_search",
    "ann_index_incremental_extend", "similarity_pq_refine_topk",
    # green r14 (CORRECTNESS_r14 50/50): first driver rows for the eight
    # post-freeze round-13 additions; the other r14-green rows re-proved
    # names already listed above. The seven post-freeze round-14 additions
    # land their first rows in r15 (they sit in the active window).
    "dedup_lsh_dropped_buckets", "courier_ledger_bucketed",
    "hybrid_search_rrf", "hybrid_search_rrf_indexed", "knn_label_vote",
    "knn_accuracy_curve", "embedding_dim_correlation",
    "embedding_dominant_direction",
    # green r15 (CORRECTNESS_r15 50/50): first driver rows for the seven
    # post-freeze round-14 additions; the other r15-green rows re-proved
    # names already listed above. The four post-freeze round-15 additions
    # land their first rows in r16 (they sit in the active window).
    "knn_label_vote_indexed", "knn_vote_agreement_indexed",
    "knn_accuracy_curve_indexed", "bm25_search_indexed",
    "bm25_index_incremental_extend", "hybrid_search_rrf_dual_indexed",
    "substring_search_indexed",
    # green r16 (CORRECTNESS_r16 50/50): first driver rows for the four
    # post-freeze round-15 additions; the other r16-green rows re-proved
    # names already listed above. The four post-freeze round-16 additions
    # land their first rows in r17 (they sit in the active window).
    "semdedup_pairs_indexed", "bm25_search_compacted",
    "substring_search_compacted", "ann_index_compacted_search",
}
