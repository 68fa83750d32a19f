"""editdist_join (PassJoin segment blocking) vs a brute-force pure-Python
Levenshtein oracle — exact set equality, plus the completeness edge cases
the partition lemma is most likely to get wrong (short strings, length
drift at the +-k boundary, identical strings)."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from engine.text.editdist import editdist_join, segment_bucket_stats


def lev(a: str, b: str) -> int:
    """Textbook O(len(a)*len(b)) DP — the independent oracle."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def brute_pairs(strings: dict[int, str], k: int) -> set[tuple[int, int, int]]:
    ids = sorted(strings)
    hist = {i: Counter(strings[i]) for i in ids}
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            # one edit moves the character histogram by at most 2 in L1,
            # so a pair whose histograms differ by more than 2k is > k
            # apart; only the rest needs the DP
            ha, hb = hist[a], hist[b]
            if sum(((ha - hb) + (hb - ha)).values()) > 2 * k:
                continue
            d = lev(strings[a], strings[b])
            if d <= k:
                out.add((a, b, d))
    return out


def run_join(spark, strings: dict[int, str], k: int) -> set[tuple[int, int, int]]:
    df = spark.createDataFrame(
        [(i, s) for i, s in strings.items()], "doc_id long, s string")
    rows = editdist_join(df, id_col="doc_id", s_col="s", k=k).collect()
    got = {(r.id_a, r.id_b, r.dist) for r in rows}
    assert len(got) == len(rows), "duplicate pairs emitted"
    return got


def _mutate(s: str, edits: list[tuple[str, int]]) -> str:
    """Apply (op, pos) edits: d=delete, i=insert 'z', s=substitute '#'."""
    for op, p in edits:
        p = min(p, len(s) - 1) if s else 0
        if op == "d" and s:
            s = s[:p] + s[p + 1:]
        elif op == "i":
            s = s[:p] + "z" + s[p:]
        elif op == "s" and s:
            s = s[:p] + "#" + s[p + 1:]
    return s


@pytest.mark.parametrize("k", [1, 2, 3])
def test_parity_vs_bruteforce(spark, k):
    # 90 strings: 30 bases, each with 2 mutated variants at <=3 edits —
    # dense near-dup structure at every threshold.
    base = ["the quick brown fox %02d jumps" % i for i in range(30)]
    strings = {}
    n = 0
    for i, s in enumerate(base):
        strings[n] = s; n += 1
        strings[n] = _mutate(s, [("s", 3 + i % 7)]); n += 1
        strings[n] = _mutate(s, [("d", 5), ("i", 11), ("s", 2)][: 1 + i % 3]); n += 1
    assert run_join(spark, strings, k) == brute_pairs(strings, k)


def test_short_strings_and_empty(spark):
    # Lengths 0..4 with k=2: every string shorter than k+1 goes through
    # the broadcast short pool; the lemma's empty-segment hole is covered.
    strings = {0: "", 1: "a", 2: "ab", 3: "ba", 4: "abc", 5: "abcd",
               6: "zz", 7: "az", 8: "abcz", 9: "qrst"}
    for k in (1, 2):
        assert run_join(spark, strings, k) == brute_pairs(strings, k)


def test_length_boundary(spark):
    # Pairs exactly k apart in length — the probe's [M-k, M+k] window edge.
    strings = {0: "abcdefgh", 1: "abcdefghij", 2: "abcdef",
               3: "abcdefghijkl", 4: "abcdefgh" + "xy"}
    assert run_join(spark, strings, 2) == brute_pairs(strings, 2)


def test_identical_strings(spark):
    strings = {i: "same exact text here" for i in range(6)}
    got = run_join(spark, strings, 2)
    assert got == {(a, b, 0) for a in range(6) for b in range(a + 1, 6)}


def test_driver_fixture_shape(spark, sf_dir):
    # The driver key's derivation: 24-char prefixes of documents.text.
    df = (spark.read.parquet(f"{sf_dir}/documents.parquet")
          .select("doc_id", F.expr("substring(text, 1, 24)").alias("s")))
    strings = {r.doc_id: r.s for r in df.collect()}
    assert run_join(spark, strings, 2) == brute_pairs(strings, 2)


def test_segment_bucket_stats(spark):
    strings = {i: "viral prefix shared" for i in range(50)}
    strings.update({100 + i: "unique %03d string" % i for i in range(20)})
    df = spark.createDataFrame(
        [(i, s) for i, s in strings.items()], "doc_id long, s string")
    hot = segment_bucket_stats(df, k=2, threshold=30).collect()
    assert hot and all(r["count"] == 50 for r in hot)
    assert not segment_bucket_stats(df, k=2, threshold=64).collect()
