"""Round-12 operator pins: crafted-input replays for ROUGE-L (exact LCS
values a greedy matcher would get wrong) and for the zero-token guard on
the kappa/alpha stopword-ratio rater (ANSI DIVIDE_BY_ZERO regression).
"""

from __future__ import annotations

import duckdb
import pandas as pd

from markt_database_analyzer_spark.catalog import REGISTRY
from markt_database_analyzer_spark.catalog_eval import lcs_length


def _run_both(spark, name, sf_dir, tables):
    got = REGISTRY[name].fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    want = con.execute(REGISTRY[name].oracle).df()
    con.close()
    return got, want


def _assert_equal(got, want):
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)


def _write_docs(tmp_path, texts):
    pd.DataFrame(
        {"doc_id": range(1, len(texts) + 1), "text": texts,
         "lang": ["en"] * len(texts), "source": ["s"] * len(texts),
         "quality": [1.0] * len(texts)}
    ).to_parquet(tmp_path / "documents.parquet", index=False)


def _naive_lcs(a, b):
    # textbook O(n*m) reference DP, per-cell Python — the ground truth
    dp = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
    for i in range(1, len(a) + 1):
        for j in range(1, len(b) + 1):
            dp[i][j] = (
                dp[i - 1][j - 1] + 1
                if a[i - 1] == b[j - 1]
                else max(dp[i - 1][j], dp[i][j - 1])
            )
    return dp[-1][-1]


def test_lcs_length_matches_naive_dp():
    cases = [
        ("a b c d e".split(), "a x c y e".split()),  # classic interleave: 3
        ("b a b".split(), "a b a b".split()),  # repeats, greedy fails: 3
        ("a a a".split(), "a a".split()),  # multiset clip: 2
        ([], "a b".split()),
        ("x".split(), []),
        ("z z y".split(), "y z z".split()),  # order matters: 2, not 3
    ]
    # deterministic pseudo-random small sequences (seeded, no wall clock)
    import random

    rng = random.Random(12)
    for _ in range(40):
        a = [rng.choice("abcde") for _ in range(rng.randrange(0, 12))]
        b = [rng.choice("abcde") for _ in range(rng.randrange(0, 12))]
        cases.append((a, b))
    for a, b in cases:
        assert lcs_length(a, b) == _naive_lcs(a, b), (a, b)


def test_rouge_l_known_lcs_values(spark, tmp_path):
    # pair 1: LCS("a b c d e", "a x c y e") = 3 -> p = r = f1 = 0.6
    # pair 2: LCS("a x c y e", "e d c b a") = 1 (order-sensitivity: the
    # token MULTISET overlap is 3, an order-free metric would say 0.6)
    _write_docs(tmp_path, ["a b c d e", "a x c y e", "e d c b a"])
    got, want = _run_both(
        spark, "eval_rouge_l_adjacent_pairs", str(tmp_path), ["documents"]
    )
    _assert_equal(got, want)
    r = got.iloc[0]
    assert r["n_pairs"] == 2
    assert r["lcs_total"] == 4
    assert r["mean_precision"] == round((0.6 + 0.2) / 2, 9)
    assert r["mean_f1"] == round((0.6 + 0.2) / 2, 9)  # lc == lr -> f1 == p


def test_rouge_l_identical_and_disjoint_pairs(spark, tmp_path):
    # doc1==doc2 -> pair 1 scores exactly 1; doc3 disjoint -> pair 2 is 0
    _write_docs(tmp_path, ["a b c", "a b c", "x y z"])
    got, want = _run_both(
        spark, "eval_rouge_l_adjacent_pairs", str(tmp_path), ["documents"]
    )
    _assert_equal(got, want)
    r = got.iloc[0]
    assert r["n_pairs"] == 2 and r["lcs_total"] == 3
    assert r["mean_precision"] == 0.5 and r["mean_f1"] == 0.5


def test_rouge_l_zero_token_side_pins_zero(spark, tmp_path):
    # whitespace-only candidate: lc = 0 must pin p/r/f1 to 0 on BOTH
    # engines (no ANSI divide error, no NULL leak), pair still counted
    _write_docs(tmp_path, ["   ", "a b c"])
    got, want = _run_both(
        spark, "eval_rouge_l_adjacent_pairs", str(tmp_path), ["documents"]
    )
    _assert_equal(got, want)
    r = got.iloc[0]
    assert r["n_pairs"] == 1 and r["lcs_total"] == 0
    assert (r["mean_precision"], r["mean_recall"], r["mean_f1"]) == (0.0, 0.0, 0.0)


def test_rouge_l_repeated_tokens_not_greedy(spark, tmp_path):
    # LCS("b a b", "a b a b") = 3; a greedy left-to-right matcher that
    # consumes the reference's first 'b' for the candidate's first 'b'
    # would report 2
    _write_docs(tmp_path, ["b a b", "a b a b"])
    got, want = _run_both(
        spark, "eval_rouge_l_adjacent_pairs", str(tmp_path), ["documents"]
    )
    _assert_equal(got, want)
    r = got.iloc[0]
    assert r["lcs_total"] == 3
    assert r["mean_precision"] == 1.0  # 3/3
    assert r["mean_recall"] == 0.75  # 3/4


def test_kappa_and_alpha_survive_zero_token_docs(spark, tmp_path):
    # a whitespace-only doc must not throw DIVIDE_BY_ZERO in Spark's
    # ANSI mode while the DuckDB oracle maps it to r2=0; both engines
    # must agree on ratio 0 for token-less docs
    _write_docs(tmp_path, ["the cat sat", "   ", "no stopwords here xyz", "\t"])
    for entry in ("eval_cohens_kappa", "eval_krippendorff_alpha"):
        got, want = _run_both(spark, entry, str(tmp_path), ["documents"])
        _assert_equal(got, want)


def test_streaming_batch_parity_entry_self_checks(spark):
    # the unified entry must report zero symmetric difference between
    # the batch and streaming runs of the SAME helper on sf0.001
    got = REGISTRY["streaming_batch_parity_tumbling"].fn(
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    r = got.iloc[0]
    assert r["n_diff"] == 0
    assert r["n_windows_batch"] == r["n_windows_stream"] > 0
    assert r["n_events_total"] > 0


def _naive_levenshtein(a, b):
    dp = list(range(len(b) + 1))
    for i in range(1, len(a) + 1):
        prev_diag, dp[0] = dp[0], i
        for j in range(1, len(b) + 1):
            cur = min(
                dp[j] + 1,
                dp[j - 1] + 1,
                prev_diag + (a[i - 1] != b[j - 1]),
            )
            prev_diag, dp[j] = dp[j], cur
    return dp[-1]


def test_edit_distance_matches_naive_dp():
    from markt_database_analyzer_spark.catalog_eval import edit_distance

    cases = [
        ("a b c d e".split(), "a x c y e".split()),  # 2 substitutions
        ("a x c y e".split(), "e d c b a".split()),  # 4
        ("kitten sat".split(), "sitting sat".split()),
        ([], "a b".split()),
        ("x y z".split(), []),
        ("a a a".split(), "a".split()),
    ]
    import random

    rng = random.Random(21)
    for _ in range(40):
        a = [rng.choice("abcde") for _ in range(rng.randrange(0, 12))]
        b = [rng.choice("abcde") for _ in range(rng.randrange(0, 12))]
        cases.append((a, b))
    for a, b in cases:
        assert edit_distance(a, b) == _naive_levenshtein(a, b), (a, b)


def test_wer_known_values(spark, tmp_path):
    # pair 1: dist("a b c d e" -> "a x c y e") = 2, lr = 5 -> wer 0.4
    # pair 2: dist("a x c y e" -> "e d c b a") = 4, lr = 5 -> wer 0.8
    _write_docs(tmp_path, ["a b c d e", "a x c y e", "e d c b a"])
    got, want = _run_both(
        spark, "eval_wer_adjacent_pairs", str(tmp_path), ["documents"]
    )
    _assert_equal(got, want)
    r = got.iloc[0]
    assert r["n_pairs"] == 2 and r["n_undefined"] == 0
    assert r["edits_total"] == 6 and r["ref_tokens_total"] == 10
    assert r["micro_wer"] == 0.6
    assert r["mean_wer"] == round((0.4 + 0.8) / 2, 9)


def test_wer_empty_reference_is_undefined(spark, tmp_path):
    # doc2 is whitespace-only: pair 1 has lr = 0 (undefined, excluded
    # from both rates); pair 2 has an empty CANDIDATE -> dist = lr = 2,
    # wer exactly 1.0 (pure insertion)
    _write_docs(tmp_path, ["a b c", "   ", "q w"])
    got, want = _run_both(
        spark, "eval_wer_adjacent_pairs", str(tmp_path), ["documents"]
    )
    _assert_equal(got, want)
    r = got.iloc[0]
    assert r["n_pairs"] == 2 and r["n_undefined"] == 1
    assert r["edits_total"] == 2 and r["ref_tokens_total"] == 2
    assert r["micro_wer"] == 1.0 and r["mean_wer"] == 1.0


def _py_hll(keys):
    # independent pure-python replay of the register build + estimate
    import hashlib
    import math

    M, MAXR = 256, 53
    regs = {}
    for k in keys:
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        b, w = h % M, h // M
        rho = MAXR if w == 0 else MAXR - w.bit_length()
        regs[b] = max(regs.get(b, 0), rho)
    num = sum(1 << (MAXR - r) for r in regs.values()) + (M - len(regs)) * (1 << MAXR)
    alpha = 0.7213 / (1.0 + 1.079 / 256.0)
    raw = alpha * 65536.0 / (num / float(1 << MAXR))
    v = M - len(regs)
    est = 256.0 * math.log(256.0 / v) if raw <= 640.0 and v > 0 else raw
    return len(regs), round(raw, 6), round(est, 6)


def test_hll_sketch_matches_pure_python_replay(spark, tmp_path):
    users = [f"{i}" for i in range(120)] * 3  # duplicates must not matter
    pd.DataFrame({"user_id": [int(u) for u in users]}).to_parquet(
        tmp_path / "events.parquet", index=False
    )
    got, want = _run_both(spark, "sketch_hll_cardinality", str(tmp_path), ["events"])
    _assert_equal(got, want)
    r = got.iloc[0]
    n_filled, raw, est = _py_hll(sorted(set(users)))
    assert r["n_filled"] == n_filled
    assert r["raw_est"] == raw and r["est"] == est
    assert r["exact_distinct"] == 120
    # HLL with m=256 on 120 keys sits in linear-counting range; the
    # estimate should land within ~15% of truth for this fixture
    assert abs(r["est"] - 120) / 120 < 0.15


def test_hll_entry_matches_oracle_on_testdata(spark):
    got, want = _run_both(
        spark, "sketch_hll_cardinality", "/root/testdata/sf0.001", ["events"]
    )
    _assert_equal(got, want)
    r = got.iloc[0]
    assert r["exact_distinct"] == 15
    assert r["abs_rel_err"] < 0.35  # small-cardinality regime, loose bound


def test_bloom_membership_guarantee_and_fpr(spark, tmp_path):
    # crafted customers: keys 0..199 in BUILDING (the build set), keys
    # 200..999 elsewhere; the filter must answer maybe=True for every
    # member (n_false_neg == 0, the Bloom guarantee) on both engines
    seg = ["BUILDING" if i < 200 else "MACHINERY" for i in range(1000)]
    pd.DataFrame(
        {"c_custkey": range(1000), "c_name": [f"c{i}" for i in range(1000)],
         "c_nationkey": [i % 25 for i in range(1000)],
         "c_acctbal": [0.0] * 1000, "c_mktsegment": seg}
    ).to_parquet(tmp_path / "customer.parquet", index=False)
    got, want = _run_both(spark, "sketch_bloom_membership", str(tmp_path), ["customer"])
    _assert_equal(got, want)
    r = got.iloc[0]
    assert r["n_false_neg"] == 0
    assert r["n_members"] == 200 and r["n_probes"] == 1000
    assert r["n_maybe"] >= 200
    # 200 keys x 3 hashes in 2048 bits -> fill <= 600/2048; FPR ~ fill^3
    assert r["fpr"] < 0.1


def test_bloom_entry_matches_oracle_on_testdata(spark):
    got, want = _run_both(
        spark, "sketch_bloom_membership", "/root/testdata/sf0.001", ["customer"]
    )
    _assert_equal(got, want)
    assert got.iloc[0]["n_false_neg"] == 0


def test_streaming_hll_equals_batch_twin(spark):
    # streaming and batch must produce the IDENTICAL sketch row on
    # static input — same registers, same estimate, same audit
    sf = "/root/testdata/sf0.001"
    got_s = REGISTRY["streaming_hll_distinct"].fn(spark, sf).toPandas()
    got_b = REGISTRY["sketch_hll_cardinality"].fn(spark, sf).toPandas()
    pd.testing.assert_frame_equal(
        got_s[sorted(got_s.columns)], got_b[sorted(got_b.columns)],
        check_dtype=False, check_exact=True,
    )


def test_lcs_and_edit_distance_inequalities():
    # cross-operator property: for unit-cost Levenshtein d and LCS l,
    #   max(lc, lr) - l <= d <= lc + lr - 2*l
    # (the upper bound is the indel-only distance; substitutions can
    # only help). A bug in either DP tends to break one side.
    from markt_database_analyzer_spark.catalog_eval import edit_distance

    import random

    rng = random.Random(33)
    for _ in range(120):
        a = [rng.choice("abcd") for _ in range(rng.randrange(0, 15))]
        b = [rng.choice("abcd") for _ in range(rng.randrange(0, 15))]
        l, d = lcs_length(a, b), edit_distance(a, b)
        assert d <= len(a) + len(b) - 2 * l, (a, b, l, d)
        assert d >= max(len(a), len(b)) - l, (a, b, l, d)
