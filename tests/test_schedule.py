"""Pins for the driver-window verification schedule (schedule.py::_schedule).

The correctness driver checks only the first 50 entries of queries()
iteration order, so the schedule IS the verification rotation.  Each
query's last driver-green round is derived from the committed
CORRECTNESS_r{N}.json artifacts, and module changes reset their dependents
through an AST-computed dependency set (schedule.py::query_deps); these
tests pin the derivation and the dependency engine against known ground
truth so a silent under-attribution can't reopen the gap.
"""

import pytest

from datafusion_bigtable_spark import queries as q
from datafusion_bigtable_spark import schedule as s

PKG = "datafusion_bigtable_spark"


def _m(short: str) -> str:
    return f"{PKG}.{short}"


def test_registry_size_and_full_green_fold():
    # After each round's fold every prior-era query carries a driver-green
    # round; queries with no record yet (this round's additions) must sit
    # in the window.  105 = 94 r4-era + 7 r5 additions
    # (interval_join_order_events, streaming_dedup_pairs,
    # streaming_enriched_counts, decontaminate_vs_benchmark,
    # text_chunk_documents, corpus_pack_sequences, streaming_attribution_join)
    # + 13 r6 additions (text_repetition_signals, text_tfidf_top_terms,
    # scd2_user_segments, corpus_shard_assign, text_pii_redaction,
    # embedding_normalize_trunc, fk_orphan_audit, numeric_histogram_prices,
    # zorder_bucket_counts, winsorize_prices, multimodal_png_decode,
    # multimodal_jpeg_decode, multimodal_audio_spectral)
    # + 7 r7 additions (sim_trained_codebook_recall,
    # bt_value_pushdown_service, text_boilerplate_ngrams,
    # embedding_cluster_outliers, bt_read_rows_wire, bt_wire_sharded_scan,
    # dedup_substring_spans)
    # + 6 r8 additions (dedup_embedding_cosine_ivf,
    # exact_quantiles_distributed, grouped_exact_quantiles,
    # dedup_semantic_prune, text_ngram_perplexity, text_bpe_tokenize)
    # + 6 r10 additions (text_word_perplexity, embedding_random_projection,
    # sim_topk_projected, corpus_mixing_alpha, dedup_embedding_cosine_ivf2,
    # streaming_curation_filter)
    # + 21 r11 additions (text_line_dedup, sim_topk_filtered,
    # corpus_pack_utilization, dedup_keep_best_quality,
    # dedup_incremental_ingest, table_profile_lineitem,
    # streaming_ingest_dedup, events_asof_last_order, dedup_containment,
    # text_heavy_hitters, corpus_zipf_slope, events_asof_view_tolerance,
    # multimodal_ahash_dedup, decontaminate_bloom, dedup_minhash_estimate,
    # dedup_sampled_rate, dedup_lsh_quality, ingest_jsonl_documents, text_curation_sql, dedup_prefix_filter, corpus_leakage_safe_split)
    # + r12 additions (bt_mutate_rows_wire, sim_index_upsert,
    # pipeline_embedding_store, sim_search_after_upsert)
    # + r13 additions (sim_index_drift, sim_index_retrain,
    # bucketed_join_mktsegment, streaming_index_upsert,
    # bucketed_agg_order_stats)
    # + 3 r14 additions (retrieval_sparse_topk, shards_compact_roundtrip,
    # sorted_shards_range_layout)
    # + 7 r15 additions (sorted_shards_range_prune, retrieval_saved_topk,
    # retrieval_bm25_topk, retrieval_hybrid_rrf, retrieval_hybrid_rrf_ivf,
    # retrieval_index_upsert, streaming_postings_upsert)
    # + 7 r16 additions (retrieval_postings_compact,
    # retrieval_postings_delete, sim_index_delete, sim_topk_ivfpq_saved,
    # retrieval_hybrid_saved, streaming_postings_delete,
    # streaming_ivf_delete).
    assert len(q.REGISTRY) == 184
    sched = s._schedule()
    greens = s._correctness_records()
    for name in (n for n in q.REGISTRY if n not in greens):
        assert sched.index(name) < 50, f"new query {name} outside driver window"


def test_window_contains_all_stale_and_touched():
    """Every query that most needs verification sorts into the 50-slot window."""
    sched = s._schedule()
    window = set(sched[:50])
    greens = {n: s._last_green(n) for n in q.REGISTRY}
    # Anything reset (0) or 2+ rounds stale must be inside the window...
    must_verify = {n for n, g in greens.items() if g <= 2}
    overflow = must_verify - window
    # ...unless there are more such queries than slots; then the overflow
    # must consist only of the *least* risky tier (stalest-but-untouched is
    # never allowed to be displaced by a fresher green).
    if len(must_verify) <= 50:
        assert overflow == set(), f"stale/touched queries outside window: {overflow}"
    else:
        assert all(greens[n] > 0 for n in overflow), (
            f"touched (green=0) queries displaced from window: "
            f"{[n for n in overflow if greens[n] == 0]}"
        )


def test_touched_query_outranks_stale_green():
    # Reset-to-0 sorts strictly before every non-zero green.
    sched = s._schedule()
    greens = [s._last_green(n) for n in sched]
    assert greens == sorted(greens)


@pytest.mark.parametrize(
    "name,expected_subset",
    [
        # The exact dependency the r3 judge caught going unreset:
        ("dedup_connected_components", {_m("operators.graph"), _m("operators.dedup")}),
        # Transport chain: service + wire + table assembly + key codec.
        (
            "bt_read_rows_service",
            {
                _m("sources.grpc_transport"),
                _m("sources.fake_bigtable"),
                _m("sources.bigtable_table"),
                _m("plans.keycodec"),
            },
        ),
        # Helper-mediated deps (_bt_events_store builds a cells store).
        ("bt_limit_pushdown", {_m("sources.datasource"), _m("sources.cells")}),
        ("streaming_stateful_user_totals", {_m("streaming.cells_stream")}),
        ("multimodal_features", {_m("functions.multimodal"), _m("functions.media_codecs")}),
        ("pipeline_curated_corpus", {_m("operators.dedup"), _m("operators.graph"), _m("functions.text")}),
        ("sim_topk_ivfpq", {_m("operators.similarity")}),
        ("deterministic_hash_sample", {_m("operators.sampling")}),
        ("skew_salted_aggregation", {_m("operators.skew")}),
    ],
)
def test_query_deps_ground_truth(name, expected_subset):
    deps = s.query_deps(name)
    assert expected_subset <= deps, f"{name}: missing {expected_subset - deps}"


def test_same_file_helpers_contribute_direct_deps():
    # bt_limit_pushdown imports sources.datasource itself; sources.cells is
    # imported only by its _bt_events_store helper.  The module closure of
    # datasource would mask a lost helper (datasource imports cells), so the
    # helper walk is pinned on the direct set.
    fn = q.REGISTRY["bt_limit_pushdown"].fn
    assert _m("sources.cells") in s._callable_direct_deps(fn, {fn})


def test_pure_dataframe_queries_have_no_package_deps():
    # TPC-H queries run on stock Spark SQL — a nonempty dep set would mean
    # the AST engine is over-attributing (false resets shrink the window).
    for name in ("tpch_q1_pricing_summary", "tpch_q6_revenue_change", "union_all_entities"):
        assert s.query_deps(name) == frozenset(), name


def test_module_touch_resets_dependents(monkeypatch):
    monkeypatch.setattr(s, "_TOUCHED_MODULES", frozenset({_m("operators.graph")}))
    s.query_deps.cache_clear()
    try:
        assert s._last_green("dedup_connected_components") == 0
        assert s._last_green("dedup_keep_canonical") == 0  # CC under the hood
        assert s._last_green("dedup_exact") != 0  # no graph dependency
        sched = s._schedule()
        assert sched.index("dedup_connected_components") < 50
    finally:
        s.query_deps.cache_clear()


def test_every_correctness_artifact_is_folded():
    """r9 skipped the fold and the driver window froze (VERDICT r9 #1).

    Pin: for EVERY committed CORRECTNESS_r{N}.json, every fully-green
    query in the artifact must carry a derived driver-green round >= N (a
    later round may override upward; a touched-this-round reset happens in
    ``_last_green()``, not in the derived records).  The fold is computed
    from the artifacts, so a new artifact needs no code edit to land.
    """
    import json
    from pathlib import Path

    repo = Path(q.__file__).resolve().parents[1]
    artifacts = sorted(repo.glob("CORRECTNESS_r*.json"))
    assert artifacts, "no correctness artifacts found next to the package"
    folded = s._correctness_records()
    for art in artifacts:
        n = int(art.stem.split("_r")[1])
        rec = json.loads(art.read_text())
        greens = {
            name
            for name, r in rec.items()
            # hash_match is part of green: r10's corpus_mixing_alpha matched
            # rows+schema but hash-failed (HUGEINT→float64 in the driver's
            # pandas path) and must NOT be folded as green.
            if r.get("rows_match") and r.get("schema_match") and r.get("hash_match", True)
        }
        missing = {
            name
            for name in greens
            if name in q.REGISTRY and folded.get(name, 0) < n
        }
        assert missing == set(), f"{art.name} greens unfolded: {sorted(missing)}"


def test_touched_queries_lead_current_window():
    # Explicitly-touched queries (green=0 by fiat) must sit inside the
    # 50-slot driver window — they are the round's highest-risk entries.
    sched = s._schedule()
    for name in s._TOUCHED_QUERIES:
        assert name in q.REGISTRY, f"touched query {name} is not registered"
        assert sched.index(name) < 50, f"touched query {name} outside window"
    # A misspelt module would silently reset nothing: every hand-kept entry
    # must name a real package module.
    for module in s._TOUCHED_MODULES:
        assert s._module_path(module) is not None, f"touched module {module} not found"


def test_fullgate_proven_modules_cite_committed_evidence():
    """VERDICT r12 #2: a window-overflow non-reset is only legal when backed
    by a committed FULLGATE artifact, not an uncommitted claim.  For every
    entry in _FULLGATE_PROVEN_MODULES: (a) the key is a real package module
    and not ALSO in _TOUCHED_MODULES (pick one posture), (b) the cited
    artifact exists at the repo root AND is git-committed, (c) its round
    postdates the newest committed CORRECTNESS_r{N}.json — evidence
    generated before that round closed cannot cover an edit made after it,
    and (d) every registry query whose dependency closure includes the
    module is fully green in it."""
    import json
    import re
    import subprocess
    from pathlib import Path

    repo = Path(q.__file__).resolve().parents[1]
    committed = set(
        subprocess.run(
            ["git", "ls-files"], cwd=repo, capture_output=True, text=True, check=True
        ).stdout.splitlines()
    )
    last_fold = max(
        int(m.group(1))
        for name in committed
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", name))
    )
    assert "tools/full_gate.py" in committed, "full-gate tool must be committed"
    for module, artifact in s._FULLGATE_PROVEN_MODULES.items():
        assert s._module_path(module) is not None, f"unknown module {module}"
        assert module not in s._TOUCHED_MODULES, (
            f"{module} both touched and fullgate-proven — contradictory"
        )
        path = repo / artifact
        assert path.is_file(), f"{artifact} cited but absent"
        assert artifact in committed, f"{artifact} cited but not committed"
        payload = json.loads(path.read_text())
        assert payload["round"] > last_fold, (
            f"{artifact} (round {payload['round']}) predates the r{last_fold} "
            f"fold — stale evidence for {module}"
        )
        dependents = {n for n in q.REGISTRY if module in s.query_deps(n)}
        assert dependents, f"{module} has no dependents — listing it is pointless"
        # Dependents already guaranteed a driver-window slot (new queries,
        # _TOUCHED_QUERIES, other-module resets — all zero driver-green)
        # need no artifact substitute: the valve only covers dependents
        # that would otherwise go unreverified.
        not_green = {
            n
            for n in dependents
            if s._last_green(n) > 0 and payload["results"].get(n) != "green"
        }
        assert not_green == set(), (
            f"{artifact} does not prove {module}'s dependents green: "
            f"{sorted(not_green)}"
        )


def test_fullgate_tiebreak_never_outranks_driver_green(monkeypatch):
    # A full-gate green is a SECONDARY key: zero-driver-green queries sort
    # before every driver-green query regardless of full-gate recency.
    monkeypatch.setattr(s, "_fullgate_records", lambda: {"dedup_exact": 99})
    sched = s._schedule()
    greens = [s._last_green(n) for n in sched]
    assert greens == sorted(greens)


def test_transitive_module_imports_followed():
    # operators.dedup imports operators.graph only indirectly through the
    # keep-canonical path; closure must include it for CC-based queries even
    # if the query only imports dedup.
    closure = s._module_closure({_m("operators.dedup")})
    assert _m("operators.dedup") in closure


def test_fullgate_records_refresh_when_an_artifact_lands_mid_session():
    """ADVICE r13: the process-lifetime lru_cache meant a FULLGATE artifact
    written during a long-lived session never reached _schedule()'s
    tiebreak until interpreter restart.  The cache now keys on the
    (name, mtime) set of matching artifacts, so a new artifact takes
    effect on the next call — and its removal does too."""
    import json
    from pathlib import Path

    repo = Path(q.__file__).resolve().parents[1]
    art = repo / "FULLGATE_r9998.json"
    assert not art.exists()
    before = s._fullgate_records().get("dedup_exact", 0)
    assert before < 9998
    try:
        art.write_text(json.dumps({"round": 9998, "results": {"dedup_exact": "green"}}))
        assert s._fullgate_records()["dedup_exact"] == 9998
    finally:
        art.unlink()
    assert s._fullgate_records().get("dedup_exact", 0) == before


def test_correctness_records_refresh_when_an_artifact_lands_mid_session():
    """The driver-green fold is derived from the committed CORRECTNESS
    artifacts, so committing a new one changes the schedule with no code
    edit — within the same session, because the cache keys on the
    artifact set.  Only a fully-green record counts: a hash mismatch or an
    error leaves the query's round where it was, and removing the artifact
    restores the old value."""
    import json
    from pathlib import Path

    repo = Path(q.__file__).resolve().parents[1]
    art = repo / "CORRECTNESS_r9998.json"
    assert not art.exists()
    ok = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    before = dict(s._correctness_records())
    names = ("dedup_exact", "tpch_q1_pricing_summary", "tpch_q6_revenue_change")
    assert all(0 < before[n] < 9998 for n in names)
    try:
        art.write_text(
            json.dumps(
                {
                    names[0]: ok,
                    names[1]: {**ok, "hash_match": False},
                    names[2]: {**ok, "err": "AnalysisException: boom"},
                }
            )
        )
        after = s._correctness_records()
        assert after[names[0]] == 9998
        assert s._last_green(names[0]) == 9998
        assert after[names[1]] == before[names[1]]
        assert after[names[2]] == before[names[2]]
        assert s._schedule()[-1] == names[0]
    finally:
        art.unlink()
    assert s._correctness_records() == before


def test_content_tag_format_is_frozen(tmp_path):
    """Every content-addressed /tmp fixture derives its identity from
    _tag_of/_src_tag (review r14-3 #5).  The byte format is FROZEN:
    changing it re-keys every store on disk into a one-time rewrite, so
    an edit that alters these hashes must be a deliberate choice that
    updates this pin, never a refactoring accident."""
    import hashlib
    import os

    assert q._tag_of("a", "b", 3) == hashlib.md5(b"a|b|3").hexdigest()[:12]
    p = tmp_path / "documents.parquet"
    p.write_bytes(b"x" * 7)
    st = os.stat(p)
    expect = hashlib.md5(
        f"pfx|{os.path.abspath(p)}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:12]
    assert q._src_tag("pfx", str(tmp_path), "documents") == expect


def test_stale_store_version_sweep_scopes_to_family(tmp_path, monkeypatch):
    """The reused /tmp stores' version sweep removes only 12-hex-tag
    siblings of the SAME family — never a prefix-sharing other family,
    a non-tag leaf, or the live store itself."""
    import os

    base_dir = tmp_path / "stores"
    base_dir.mkdir()
    live = str(base_dir / "dbs_postings_sf0.01_aaaaaaaaaaaa")
    stale = str(base_dir / "dbs_postings_sf0.01_bbbbbbbbbbbb")
    other_sf = str(base_dir / "dbs_postings_sf0.011_cccccccccccc")
    non_tag = str(base_dir / "dbs_postings_sf0.01_notatag")
    for d in (live, stale, other_sf, non_tag):
        os.makedirs(d)
    q._sweep_stale_store_versions(live)
    assert os.path.isdir(live), "live store swept"
    assert not os.path.isdir(stale), "stale version survived"
    assert os.path.isdir(other_sf), "other sf dir's store swept"
    assert os.path.isdir(non_tag), "non-tag leaf swept"
