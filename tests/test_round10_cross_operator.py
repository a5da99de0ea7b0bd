"""Cross-operator consistency checks for the round-10 planning family:
two operators that claim to measure the same quantity through
different plans must agree exactly. This axis catches drift that
per-operator oracles cannot (both the operator and its oracle could
change together; a sibling operator pins the semantics externally).
Honors TEST_SF_DIR like the brute-force modules."""

from __future__ import annotations

import os

import pandas as pd
import pytest

import dock_financial_data_pipelines_spark as engine

SF = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def _run(spark, name: str) -> pd.DataFrame:
    return engine.QUERIES[name](spark, SF).toPandas()


def _skip_if_empty(table: str) -> None:
    import pyarrow.parquet as pq

    if pq.read_metadata(f"{SF}/{table}.parquet").num_rows == 0:
        pytest.skip(f"{table} empty: covered by the empty-fixture sweep")


def test_shard_count_advisor_n16_matches_cross_shard_dup_rate(spark):
    """The advisor's n=16 row and l_cross_shard_dup_rate measure the
    SAME sharding (md5-60bit % 16) through different plans."""
    _skip_if_empty("documents")
    adv = _run(spark, "l_shard_count_advisor")
    rate = _run(spark, "l_cross_shard_dup_rate").iloc[0]
    row = adv[adv["n_shards"] == 16].iloc[0]
    assert row["dup_groups"] == rate["dup_groups"]
    assert row["groups_cross_shard"] == rate["groups_cross_shard"]
    assert (
        row["rows_needing_global_pass"] == rate["rows_needing_global_pass"]
    )
    assert (
        abs(row["cross_shard_group_rate"] - rate["cross_shard_group_rate"])
        < 1e-12
    )


def test_rehearsal_agrees_with_dup_rate_and_exact_dedup(spark):
    """Rehearsal accounting vs the dup-rate screen vs the L3 exact
    summary: three plans, one ground truth."""
    _skip_if_empty("documents")
    reh = _run(spark, "l_sharded_dedup_rehearsal").iloc[0]
    rate = _run(spark, "l_cross_shard_dup_rate").iloc[0]
    l3 = _run(spark, "l3_exact_dedup_summary").iloc[0]
    # single-pass final == count(DISTINCT digest) == L3 n_unique
    assert reh["single_pass_final"] == l3["n_unique"]
    assert reh["n_docs"] == l3["n_docs"]
    # total removals == L3 n_dups == dup-rate removable_rows
    total_removed = reh["local_removed"] + reh["global_removed"]
    assert total_removed == l3["n_dups"] == rate["removable_rows"]
    # the global pass removes exactly the cross-shard duplicate rows
    assert reh["global_removed"] == rate["rows_needing_global_pass"]


def test_pipeline_matches_rehearsal_counts(spark):
    """The staged two-pass pipeline (real sink round-trip) must land
    on the same counts the in-plan rehearsal computes."""
    _skip_if_empty("documents")
    pipe = _run(spark, "pipeline_sharded_dedup").iloc[0]
    reh = _run(spark, "l_sharded_dedup_rehearsal").iloc[0]
    assert pipe["n_docs"] == reh["n_docs"]
    assert pipe["pass1_survivors"] == reh["survivors"]
    assert pipe["final_rows"] == reh["two_pass_final"]
    assert pipe["keep_mismatches"] == 0


def test_cost_model_lsh_stage_matches_band_occupancy(spark):
    """The cost model's b_minhash_lsh candidate pairs must equal the
    occupancy audit's pair total (sum over its histogram)."""
    _skip_if_empty("documents")
    cm = _run(spark, "l_dedup_stage_cost_model")
    if len(cm) == 0:
        pytest.skip("fewer than 2 docs: cost model emits nothing")
    occ = _run(spark, "l4_band_occupancy_audit")
    lsh = cm[cm["stage"] == "b_minhash_lsh"].iloc[0]
    assert lsh["candidate_pairs"] == occ["candidate_pairs"].sum()
    # units == number of buckets (histogram row weights)
    assert lsh["candidate_units"] == occ["n_buckets"].sum()


def test_cost_model_and_hot_bucket_advisor_agree_on_pairs(spark):
    """Hot-bucket advisor tiers partition the SAME pair population the
    cost model's LSH stage counts."""
    _skip_if_empty("documents")
    cm = _run(spark, "l_dedup_stage_cost_model")
    if len(cm) == 0:
        pytest.skip("fewer than 2 docs: cost model emits nothing")
    hot = _run(spark, "l_hot_bucket_skew_advisor")
    lsh_pairs = int(cm[cm["stage"] == "b_minhash_lsh"].iloc[0][
        "candidate_pairs"
    ])
    assert int(hot["candidate_pairs"].sum()) == lsh_pairs
    if lsh_pairs > 0:
        # shares partition the whole within rounding (4 tiers x 1e-6)
        assert abs(hot["pair_share"].sum() - 1.0) < 5e-6


def test_neardup_rate_total_matches_cost_model(spark):
    """cross-shard near-dup rate's total_pairs is the same LSH join
    cardinality the cost model prices."""
    _skip_if_empty("documents")
    cm = _run(spark, "l_dedup_stage_cost_model")
    if len(cm) == 0:
        pytest.skip("fewer than 2 docs: cost model emits nothing")
    nd = _run(spark, "l_cross_shard_neardup_rate").iloc[0]
    lsh = cm[cm["stage"] == "b_minhash_lsh"].iloc[0]
    assert nd["total_pairs"] == lsh["candidate_pairs"]
    assert 0 <= nd["within_pairs"] <= nd["total_pairs"]


def test_s17_s19_partition_inventories_agree(spark):
    """s17 (bin-pack) and s19 (size advisor) walk the same monthly
    partition inventory of orders: same months, same per-month rows."""
    _skip_if_empty("orders")
    s17 = _run(spark, "s17_compaction_binpack")
    s19 = _run(spark, "s19_partition_size_advisor")
    assert int(s17["total_rows"].sum()) == int(s19["n_rows"].sum())
    assert int(s17["n_partitions"].sum()) == len(s19)
    assert s17["first_month"].min() == s19["mon"].min()
    assert s17["last_month"].max() == s19["mon"].max()


def test_s18_matches_s20_insertion_layout(spark):
    """s20's a_insertion layout IS s18's layout; their rowgroup
    populations must reconcile (s20 adds the custkey conjunct, so its
    pruned+fp counts can only be >= s18's for the same groups)."""
    _skip_if_empty("orders")
    s18 = _run(spark, "s18_rowgroup_pruning_probe")
    s20 = _run(spark, "s20_sort_layout_advisor")
    ins = s20[s20["layout"] == "a_insertion"].iloc[0]
    assert int(ins["n_rowgroups"]) == int(s18["n_rowgroups"].sum())
    # date-only matching rows (s18) >= date+custkey matching rows (s20)
    assert int(s18["rows_matching"].sum()) >= int(ins["rows_matching"])
    # conjunctive pruning can only prune MORE groups than date-only
    s18_pruned = s18[s18["outcome"] == "pruned"]["n_rowgroups"].sum()
    assert int(ins["groups_pruned"]) >= int(s18_pruned)


def test_join_skew_advisor_internal_invariants(spark):
    """Partition-model sanity that holds on every fixture: skew >= 1,
    salt >= 1, monotone partition occupancy."""
    _skip_if_empty("events")
    got = _run(spark, "j17_join_skew_advisor")
    assert (got["skew_ratio"] >= 1.0 - 1e-9).all()
    assert (got["recommended_salt"] >= 1).all()
    assert (got["max_partition_rows"] >= got["top_key_rows"] / 32).all()
    # occupancy can only stay equal or grow with more partitions
    occ = got.sort_values("n_partitions")["partitions_nonempty"].tolist()
    assert occ == sorted(occ)


def test_wrapper_pairs_are_containment_pairs(spark, tmp_path):
    """Every wrapper-audit pair (containment ≥ 0.8) is a containment
    pair (≥ 0.6) over the same capped shingle index: n_common, both
    set sizes and the containment ratio must agree exactly. The corpus
    gets planted wrappers — a 10-token doc and a copy followed by 30
    fresh tokens (containment 1, jaccard ≈ 0.2) — so the check is
    never vacuous."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _skip_if_empty("documents")
    docs = pq.read_table(f"{SF}/documents.parquet")
    template = docs.slice(0, 1).to_pylist()[0]
    top = max(docs.column("doc_id").to_pylist()) + 1
    planted = []
    for i in range(3):
        inner = " ".join(f"in{i}x{k}" for k in range(10))
        outer = inner + "".join(f" out{i}x{k}" for k in range(30))
        for j, text in enumerate((inner, outer)):
            planted.append({**template, "doc_id": top + 2 * i + j,
                            "text": text, "n_chars": len(text)})
    corpus = pa.concat_tables(
        [docs, pa.Table.from_pylist(planted, schema=docs.schema)]
    )
    pq.write_table(corpus, tmp_path / "documents.parquet")

    def run(name):
        return engine.QUERIES[name](spark, str(tmp_path)).toPandas()

    wrap = run("l_wrapper_pair_audit")
    cont = run("l_containment_pairs")
    pairs = set(zip(wrap["doc_a"], wrap["doc_b"]))
    assert {(top + 2 * i, top + 2 * i + 1) for i in range(3)} <= pairs
    joined = wrap.merge(
        cont, on=["doc_a", "doc_b"], how="left", suffixes=("_w", "_c"),
        indicator=True,
    )
    assert (joined["_merge"] == "both").all()
    for c in ("n_common", "size_a", "size_b", "containment"):
        assert (joined[f"{c}_w"] == joined[f"{c}_c"]).all(), c
