"""Output checks: each returns a list of (operation, message) mismatches.

Pure functions over plain Python values, so a hand-built mismatch can be
tested without Spark. An empty list means the outputs are correct.
"""

from __future__ import annotations

Mismatch = tuple[str, str]


def _diff(op: str, what: str, got, want) -> list[Mismatch]:
    got, want = set(got), set(want)
    if got == want:
        return []
    missing, extra = sorted(want - got), sorted(got - want)
    return [(op, f"{what}: {len(missing)} missing {missing[:3]}, {len(extra)} unexpected {extra[:3]}")]


def full_verify(violations: dict[str, set[str]], expected: dict[str, list[str]]) -> list[Mismatch]:
    """Each rule's violation keys equal its injector's expected set
    (the drift set names the skewed bucket's chi² failure)."""
    out: list[Mismatch] = []
    for rule in sorted(set(expected) | set(violations)):
        out += _diff("runner.run_suite", f"rule {rule}", violations.get(rule, set()), expected.get(rule, []))
    return out


def migration_diff(
    recovered: set[int],
    column_pairs: set[tuple[int, str]],
    n_diff: int,
    expected: dict[str, list],
) -> list[Mismatch]:
    """Recovered rows are the dropped and modified source rows; column_diff
    names exactly the modified (key, column) pairs; the multiset diff has
    one digest per dropped or duplicated row and two per modified row."""
    modified = {(k, c) for k, c in expected["modified"]}
    modified_keys = {k for k, _ in modified}
    want_diff = len(expected["dropped"]) + len(expected["duplicated"]) + 2 * len(modified_keys)
    out = _diff("checksum.recover_rows", "recovered row keys", recovered, set(expected["dropped"]) | modified_keys)
    out += _diff("checksum.column_diff", "(key, column) pairs", column_pairs, modified)
    if n_diff != want_diff:
        out.append(("checksum.multiset_diff", f"{n_diff} differing digests, expected {want_diff}"))
    return out


def daily_ingest(
    dirty: set[int],
    verdicts: list[tuple],
    matches: set[tuple[int, int]],
    n_new: int,
    expected: dict,
) -> list[Mismatch]:
    """The dirty buckets are the touched ones and every recomputed verdict
    in them passes; every planted exact copy matches its original; every
    batch doc counts as new."""
    out = _diff("snapshots.changed_buckets", "dirty buckets", dirty, expected["touched"])
    bad = sorted({(b, r, s) for (b, r, _, s) in verdicts if s != "PASS" or b not in dirty})
    if bad:
        out.append(("runner.check_incremental", f"recomputed verdicts not PASS in a dirty bucket: {bad[:3]}"))
    missing = sorted({(a, b) for a, b in expected["planted"]} - matches)
    if missing:
        out.append(("dedup.ingest_probe_index", f"{len(missing)} planted copies unmatched: {missing[:3]}"))
    if n_new != expected["n_batch"]:
        out.append(("dedup.ingest_probe_index", f"n_new={n_new}, expected {expected['n_batch']}"))
    return out
