"""The output checkers on hand-built matches and mismatches."""

import checks

FV_EXPECTED = {
    "sha256": ["r|a|c1", "r|b|c1"],
    "uniqueness": ["r|d|c1"],
    "drift": ["lang_chi2|3"],
    "column_stats": [],
}


def test_full_verify_exact_match_passes():
    got = {"sha256": {"r|a|c1", "r|b|c1"}, "uniqueness": {"r|d|c1"}, "drift": {"lang_chi2|3"}}
    assert checks.full_verify(got, FV_EXPECTED) == []


def test_full_verify_reports_missing_extra_and_unexpected_rule():
    got = {
        "sha256": {"r|a|c1", "r|z|c9"},  # one missing, one unexpected
        "uniqueness": {"r|d|c1"},
        "drift": {"lang_chi2|3"},
        "column_stats": {"3|lang"},  # a rule that should be silent
    }
    bad = checks.full_verify(got, FV_EXPECTED)
    assert {op for op, _ in bad} == {"runner.run_suite"}
    text = " ".join(msg for _, msg in bad)
    assert "rule sha256: 1 missing ['r|b|c1'], 1 unexpected ['r|z|c9']" in text
    assert "rule column_stats" in text
    assert len(bad) == 2


MD_EXPECTED = {"dropped": [1, 2], "duplicated": [3], "modified": [[4, "l_tax"], [4, "l_comment"], [5, "l_tax"]]}


def test_migration_diff_exact_match_passes():
    pairs = {(4, "l_tax"), (4, "l_comment"), (5, "l_tax")}
    # 2 dropped + 1 duplicated + 2 digests for each of the 2 modified rows
    assert checks.migration_diff({1, 2, 4, 5}, pairs, 7, MD_EXPECTED) == []


def test_migration_diff_mismatch_names_each_operation():
    bad = checks.migration_diff({1, 4, 5, 9}, {(4, "l_tax")}, 6, MD_EXPECTED)
    assert [op for op, _ in bad] == ["checksum.recover_rows", "checksum.column_diff", "checksum.multiset_diff"]


DI_EXPECTED = {"touched": [3, 17], "planted": [[2_000_000_000, 5], [2_000_000_001, 9]], "n_batch": 1000}
PASSING = [(3, "sha256", 0, "PASS"), (17, "drift", 0, "PASS")]


def test_daily_ingest_exact_match_passes():
    matches = {(2_000_000_000, 5), (2_000_000_001, 9), (1_000_000_007, 44)}  # extra near-dups are fine
    assert checks.daily_ingest({3, 17}, PASSING, matches, 1000, DI_EXPECTED) == []


def test_daily_ingest_mismatches():
    verdicts = PASSING + [(3, "uniqueness", 2, "FAIL"), (8, "sha256", 0, "PASS")]
    bad = checks.daily_ingest({3, 8}, verdicts, {(2_000_000_000, 5)}, 999, DI_EXPECTED)
    ops = [op for op, _ in bad]
    assert ops == [
        "snapshots.changed_buckets",
        "runner.check_incremental",
        "dedup.ingest_probe_index",
        "dedup.ingest_probe_index",
    ]
    assert "1 planted copies unmatched: [(2000000001, 9)]" in bad[2][1]
