"""Meta-contracts on the driver surface (__spark_entry__.py, bench.py):
the CORRECTNESS-window rotation policy, key hygiene, and bench-name
validity — regressions here silently starve new operators of their
driver-recorded correctness row (the round-3 verdict's #1 finding)."""

import glob
import json
import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod  # noqa: E402
import bench  # noqa: E402

WINDOW = 50


def _recorded_keys():
    rec = set()
    for path in glob.glob("/root/repo/CORRECTNESS_r*.json"):
        rec |= set(json.load(open(path)))
    return rec


def test_every_unrecorded_oracle_query_inside_window():
    q = list(entry_mod.queries())
    oracles = entry_mod.oracle_sql()
    rec = _recorded_keys()
    starved = [k for k in q[WINDOW:] if k not in rec and k in oracles]
    assert starved == [], (
        f"oracle-backed queries outside the driver's {WINDOW}-row window "
        f"with no recorded correctness row: {starved}"
    )


def test_oracle_keys_subset_of_queries():
    q = set(entry_mod.queries())
    extra = set(entry_mod.oracle_sql()) - q
    assert extra == set(), f"oracles without a queries() entry: {extra}"


def test_rows_only_entries_are_known():
    q = set(entry_mod.queries())
    no_oracle = q - set(entry_mod.oracle_sql())
    # only by-design rows-only entries may lack an oracle. Round 9
    # (VERDICT r8 #1) flipped FIVE of the six: multimodal_features/
    # multimodal_frames via constructed golden payloads,
    # bpe_fertility_by_lang + bpe_packed_sequences via the closed-form
    # fixture corpus, and sketch_stats by replacing Spark-internal
    # approx_* with engine-reproducible KMV + hash-sample sketches.
    # What remains is exactly REAL-corpus subword inference, pinned by
    # tests/test_tokenizer.py's driver recount instead.
    assert no_oracle == {
        "bpe_token_stats",
    }, no_oracle


def test_bench_names_resolve():
    q = entry_mod.queries()
    missing = [n for n in bench.BENCH_QUERIES if n not in q]
    assert missing == []
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES)


def test_r14_window_is_pure_staleness_rotation():
    """VERDICT r13 #7: with zero never-recorded entries after r13, the
    r14 window must be exactly the 24 last-r10 entries plus the 26
    alphabetically-first last-r11 entries, recomputed here from the
    CORRECTNESS history of the rounds BEFORE r14 (the history that
    existed when the window was chosen; later rounds' files would move
    the recipe under a window that is already fixed) — keeping every
    registry entry's last driver row >= r11 after this round."""
    import re

    last = {}
    for path in sorted(glob.glob("/root/repo/CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", path).group(1))
        if rnd >= 14:
            continue
        for k, v in json.load(open(path)).items():
            if isinstance(v, dict):
                last[k] = rnd
    reg = list(entry_mod.queries())
    window = reg[:WINDOW]
    # new never-recorded entries added mid-round must LEAD the window
    # (test_every_unrecorded_oracle_query_inside_window); everything
    # after them follows the staleness recipe
    new = [q for q in window if q not in last]
    rest = window[len(new) :]
    r10 = sorted(q for q in reg if last.get(q) == 10)
    r11 = sorted(q for q in reg if last.get(q) == 11)
    assert rest == r10 + r11[: WINDOW - len(new) - len(r10)], (
        "window does not follow the r14 stale-first recipe"
    )
    oracles = entry_mod.oracle_sql()
    rows_only = [q for q in window if q not in oracles]
    assert rows_only == [], (
        f"r14 window must be 100% oracle-backed, found: {rows_only}"
    )


def test_bench_rung_aliases():
    """VERDICT r13 #1: the final bench line carries frozen <=6-char
    aliases so 98 per-rung timings fit the driver's ~2000-char tail
    window. The table must cover every rung exactly, injectively, and
    within the length bound — a rename or collision silently corrupts
    cross-round per-query matching."""
    assert set(bench.RUNG_ALIAS) == set(bench.BENCH_QUERIES)
    aliases = list(bench.RUNG_ALIAS.values())
    assert len(set(aliases)) == len(aliases), "alias collision"
    too_long = [a for a in aliases if len(a) > 6 or not a]
    assert too_long == [], too_long


def test_bench_variant_tags_resolve():
    """VERDICT r12 #4: every tagged plan variant must be a real bench
    rung, its base (when named) must also be benched so the pair can be
    compared, and the frozen CORE must stay variant-free so core_s
    keeps comparing like with like across rounds."""
    for rung, base in bench.BENCH_VARIANTS.items():
        assert rung in bench.BENCH_QUERIES, rung
        assert rung not in bench.BENCH_CORE, (
            f"variant {rung} must not sit in the frozen core"
        )
        if base is not None:
            assert base in bench.BENCH_QUERIES, (rung, base)
    salted = [n for n in bench.BENCH_QUERIES if "salted" in n]
    untagged = [n for n in salted if n not in bench.BENCH_VARIANTS]
    assert untagged == [], (
        f"salted rungs missing a variant tag: {untagged}"
    )
