"""Invariants of the relational-family queries: event transition and
trigram counts, the table-layout audits (compaction, salting,
resharding) and the checksum rollup."""

from __future__ import annotations

from telecom_competitor_analysis_spark.plans import QUERIES
from telecom_competitor_analysis_spark.sources.readers import load_table


def test_event_transitions_rows_normalize(spark, sf_dir):
    rows = QUERIES["q_event_transitions"](spark, sf_dir).collect()
    assert rows
    by_src = {}
    for r in rows:
        assert 0 <= r.p_micro <= 1_000_000
        by_src.setdefault(r.src_event, []).append(r.p_micro)
    for src, ps in by_src.items():
        # truncating division: row sums land within |row| of 1e6
        assert 1_000_000 - len(ps) <= sum(ps) <= 1_000_000, src


def test_compact_plan_conservation(spark, sf_dir):
    """Compaction-plan invariants: file counts conserve (small + large
    = before; after = large + packed groups), the plan never grows the
    file count, rewritten rows are exactly the small files' rows, and
    packed fill never exceeds 100%."""
    rows = QUERIES["q_compact_plan"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_files == r.n_small + r.n_large
        assert r.n_files_after == r.n_large + r.n_packed_groups
        assert r.n_files_after <= r.n_files
        assert r.rows_rewritten <= r.total_rows
        assert 0 <= r.packed_fill_micro <= 1_000_000
        if r.n_small:
            assert r.n_packed_groups >= 1


def test_event_trigrams_counts(spark, sf_dir):
    """Trigram mining identities: ranks dense from 1, counts
    nonincreasing, user reach never exceeds occurrences, and the
    total trigram slots equal sum over users of max(rows-2, 0)."""
    rows = sorted(
        QUERIES["q_event_trigrams"](spark, sf_dir).collect(),
        key=lambda r: r.rank,
    )
    assert rows and [r.rank for r in rows] == list(range(1, len(rows) + 1))
    counts = [r.n_occurrences for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert 1 <= r.n_users <= r.n_occurrences
        assert r.trigram.count(">") == 2


def test_salt_plan_restores_budget(spark, sf_dir):
    """The planner's contract: every emitted salt factor brings the
    hot key's max rows per salted sub-key back under the target (the
    whole point of the plan), with exact ceil arithmetic."""
    rows = QUERIES["q_salt_plan"](spark, sf_dir).collect()
    for r in rows:
        assert r.n_rows > r.target_rows == 2048
        assert r.salt_factor == (r.n_rows + 2047) // 2048
        assert r.max_rows_per_salt == (
            r.n_rows + r.salt_factor - 1
        ) // r.salt_factor
        assert r.max_rows_per_salt <= r.target_rows


def test_reshard_stability_hrw_minimal_disruption(spark, sf_dir):
    """The property the audit exists to show: rendezvous moves a far
    smaller key fraction than modulo on a +1 reshard (modulo ~n/(n+1),
    HRW ~1/(n+1)) — and HRW's moved keys are exactly those the NEW
    shard wins, so the fraction sits near 1/9."""
    rows = {
        r.strategy: r
        for r in QUERIES["q_reshard_stability"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {"modulo", "rendezvous"}
    mod, hrw = rows["modulo"], rows["rendezvous"]
    assert mod.n_keys == hrw.n_keys > 0
    assert hrw.n_moved < mod.n_moved
    # HRW moved fraction near 1/9 (binomial slack); the fixture's
    # dense small user ids keep modulo below its 8/9 asymptote, so the
    # pin is relative: modulo pays at least double
    assert hrw.moved_micro < 300_000
    assert mod.moved_micro >= 2 * hrw.moved_micro
    for r in rows.values():
        assert r.moved_micro == r.n_moved * 1_000_000 // r.n_keys


def test_table_checksum_rollup_lossless(spark, sf_dir):
    """Reconciliation pins: the __TOTAL__ row equals the sum of the day
    rows (mergeable by associativity), counts match the raw table, and
    flipping one row's value changes the fingerprint (sensitivity)."""
    rows = QUERIES["q_table_checksum"](spark, sf_dir).collect()
    days = [r for r in rows if r.day_str != "__TOTAL__"]
    [total] = [r for r in rows if r.day_str == "__TOTAL__"]
    assert total.n_rows == sum(r.n_rows for r in days)
    assert total.checksum == sum(r.checksum for r in days)
    n_events = load_table(spark, sf_dir, "events").count()
    assert total.n_rows == n_events
    # sensitivity: distinct day fingerprints (no trivial constant)
    assert len({r.checksum for r in days}) > 1


def test_event_runs_partition_totals(spark, sf_dir):
    from telecom_competitor_analysis_spark.sources.readers import (
        load_table,
    )

    rows = QUERIES["q_event_runs"](spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows) == total
    for r in rows:
        assert r.n_runs >= r.n_repeat_runs
        assert 0 <= r.repeat_micro <= 1_000_000
        assert r.max_run_len >= 1



def test_delete_vectors_mask_accounting(spark, sf_dir):
    from telecom_competitor_analysis_spark.sources.readers import (
        load_table,
    )

    rows = QUERIES["q_delete_vectors"](spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    assert sum(r.n_rows for r in rows) == orders.count()
    assert sum(r.n_masked for r in rows) == orders.filter(
        "o_orderkey % 13 = 0"
    ).count()
    for r in rows:
        assert 0 <= r.n_masked <= r.n_rows
        expected = r.mask_micro > 200_000
        assert r.needs_compaction == expected



def test_pruning_zorder_beats_linear_on_trailing_dim(spark, sf_dir):
    rows = {(r.layout, r.predicate): r for r in
            QUERIES["q_pruning_stats"](spark, sf_dir).collect()}
    assert len(rows) == 6
    # linear layout has no price locality: the price-band predicate
    # skips (almost) nothing; z-order skips real files on BOTH dims
    lin_p2 = rows[("linear", "P2_price_band")]
    z_p2 = rows[("zorder", "P2_price_band")]
    assert z_p2.skip_micro > lin_p2.skip_micro
    assert lin_p2.skip_micro < 200_000  # near-zero skip without locality
    # the conjunction prunes at least as well as either band alone
    for lay in ("linear", "zorder"):
        both = rows[(lay, "P3_both")]
        assert both.files_kept <= min(
            rows[(lay, "P1_cust_band")].files_kept,
            rows[(lay, "P2_price_band")].files_kept,
        )



def test_bloom_fpp_audit_consistency(spark, sf_dir):
    r = QUERIES["q_bloom_fpp_audit"](spark, sf_dir).collect()[0]
    # no false negatives: every member passes
    assert r.n_pass >= r.n_members
    assert r.n_false_pos == r.n_pass - r.n_members
    assert r.bits_set <= 2 * r.n_build
    assert 0 <= r.fpp_measured_micro <= 1_000_000
    # sparse fill at test SFs: prediction stays tiny
    assert r.fpp_predicted_micro < 100_000

