"""Text-analysis + sketch kernels (training-data pipeline ops)."""

from __future__ import annotations

import pandas as pd

from subdomain_crawler_spark.functions import text


def test_token_count():
    s = pd.Series(["a b  c", "  one ", "", None])
    assert list(text.token_count(s)) == [3, 1, 1, 1]  # '' splits to ['']


def test_quality_score():
    s = pd.Series(["the cat and the dog", "zz qq ww"])
    got = list(text.quality_score(s))
    assert got[0] == round(3 / 5, 4)
    assert got[1] == 0.0


def test_lang_id():
    s = pd.Series(
        [
            "the cat is on the mat and it is fine",
            "el perro y la casa en un lugar con los gatos",
            "der hund und die katze ist von den wiesen",
            "zzz qqq www",
        ]
    )
    assert list(text.lang_id(s)) == ["en", "es", "de", "und"]


def test_fingerprint64():
    s = pd.Series(["hello world", "hello world", "hello worle", ""])
    f = text.fingerprint64(s)
    assert f[0] == f[1] != f[2]
    assert f[0] == text.fingerprint64_one("hello world")
    assert f[3] == 0
    # exact value pinned so any arithmetic drift fails loudly
    assert text.fingerprint64_one("a") == ord("a")
    assert text.fingerprint64_one("ab") == (ord("a") * 1000003 + ord("b")) % ((1 << 61) - 1)


def test_shingles_and_ngrams():
    assert text.char_shingles_one("abcdef", 5) == ["abcde", "bcdef"]
    assert text.char_shingles_one("ab", 5) == ["ab"]
    assert text.char_shingles_one("", 5) == []
    assert text.word_ngrams_one("a b c d", 3) == ["a b c", "b c d"]
    assert text.word_ngrams_one("a b", 3) == ["a b"]


def test_minhash_properties():
    a = text.minhash_signature_one(text.char_shingles_one("the quick brown fox jumps"))
    a2 = text.minhash_signature_one(text.char_shingles_one("the quick brown fox jumps"))
    b = text.minhash_signature_one(text.char_shingles_one("the quick brown fox jumped"))
    c = text.minhash_signature_one(text.char_shingles_one("completely different text here"))
    assert a == a2 and len(a) == 64
    sim_ab = sum(x == y for x, y in zip(a, b)) / 64
    sim_ac = sum(x == y for x, y in zip(a, c)) / 64
    assert sim_ab > 0.5 > sim_ac


def test_minhash_batch_scalar_parity_non_ascii():
    """The batch kernel must shingle over CODEPOINTS like the scalar twin —
    round 2's byte-window kernel diverged on multi-byte text (ADVICE r2)."""
    cases = [
        "héllo wörld — çafé naïve résumé",
        "日本語のテキストで署名をテストする",
        "mixed ascii and 中文 characters über alles",
        "ascii only plain text stays on the fast path",
        "sht",  # sub-k: one whole-string shingle
        "né",   # sub-k AND non-ASCII
        "",
        None,
    ]
    batch = text.minhash_signatures(pd.Series(cases))
    for t, got in zip(cases, batch):
        want = text.minhash_signature_one(text.char_shingles_one(t or ""))
        assert list(got) == want, t


def test_fp61_batch_length_skew():
    """One long doc in a batch must not inflate work/memory for the rest
    (geometric length buckets); values identical to the scalar fold."""
    long_doc = "x" * 300_000
    s = pd.Series(["short one", long_doc, "", "tiny", "a" * 100])
    got = text.fingerprint64(s)
    for t, g in zip(s, got):
        assert g == text.fingerprint64_one(t)


def test_simhash_properties():
    a = text.simhash64_one("the quick brown fox jumps over the lazy dog".split())
    b = text.simhash64_one("the quick brown fox jumps over the lazy cat".split())
    c = text.simhash64_one("totally unrelated content about spark engines".split())
    assert a == text.simhash64_one("the quick brown fox jumps over the lazy dog".split())
    assert text.hamming64(a, b) < text.hamming64(a, c)
    assert text.simhash64_one([]) == 0


def test_lsh_bucket_cap_bounds_pairs_and_preserves_groups(spark):
    """Round-5 review ask: a large NEAR-dup clone set (template pages, one
    differing token) floods every band bucket; the bucket cap must bound
    the candidate-pair count at O(cap² + k) per bucket while the connected
    components — the thing dedup actually consumes — stay IDENTICAL to the
    uncapped clique graph's (star expansion preserves per-bucket
    connectivity; nothing is dropped)."""
    from subdomain_crawler_spark.plans.driver_queries import _lsh_band_pairs
    from subdomain_crawler_spark.operators.components import (
        connected_components)

    n = 200
    template = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed "
                "do eiusmod tempor incididunt ut labore et dolore magna "
                "aliqua token_%d")
    rows = [(i, template % i) for i in range(n)]
    rows += [(1000 + i, f"completely distinct document number {i} with its "
              f"own unrelated vocabulary entry {i * 37}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    cap = 8
    capped = _lsh_band_pairs(docs, bucket_cap=cap)
    n_capped = capped.count()
    # 8 bands × (clique over cap + star for the rest) is the worst case for
    # the clone set; the uncapped clique would be ≥ n(n-1)/2 = 19,900
    bound = 8 * (cap * (cap - 1) // 2 + (n - cap))
    assert n_capped <= bound, (n_capped, bound)
    assert n_capped < n * (n - 1) // 2

    # grouping equivalence: same components as the uncapped graph
    got = {(r["id"], r["label"])
           for r in connected_components(capped).collect()}
    want = {(r["id"], r["label"])
            for r in connected_components(
                _lsh_band_pairs(docs)).collect()}
    assert got == want

    # cap telemetry (round-7 VERDICT ask): the drop count is a first-class
    # query, non-zero on this clone set and matching the closed form —
    # all 8 bands bucket the n clones together (one differing token ≠ 8
    # differing minima out of 64 perms is astronomically unlikely at this
    # shingle overlap; deterministic seeds make it reproducible)
    from subdomain_crawler_spark.plans.driver_queries import _lsh_cap_stats
    st = _lsh_cap_stats(docs, bucket_cap=cap).collect()[0]
    assert st["bucket_cap"] == cap
    assert st["capped_buckets"] > 0 and st["dropped_pairs"] > 0
    per_bucket_drop = (n * (n - 1) // 2 - cap * (cap - 1) // 2 - (n - cap))
    assert st["dropped_pairs"] >= per_bucket_drop  # ≥ one full clone bucket
    assert st["star_edges"] >= n - cap
    # exact closed form when all 8 clone buckets are pure and nothing else
    # overflows: 8 buckets of k=n
    if st["capped_buckets"] == 8 and st["star_edges"] == 8 * (n - cap):
        assert st["dropped_pairs"] == 8 * per_bucket_drop


def test_repetition_score_known_values(spark, tmp_path):
    """dup-3-gram fraction (Gopher-family repetition filter): known values
    incl. the n<3 guard (a sequence(1, n-2) with n<3 would generate a
    DESCENDING index range, not an empty one — pinned here)."""
    import pandas as pd

    from subdomain_crawler_spark.plans.driver_queries import (
        q_repetition_score)

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["a b c a b c a b c",     # 7 grams, 3 distinct -> 4/7
                 "one two three four",    # 2 grams, distinct -> 0.0
                 "x y",                   # n=2: guard path -> 0.0
                 ""],                     # empty -> 0.0
    })
    spark.createDataFrame(docs).write.parquet(
        str(tmp_path / "documents.parquet"))
    got = {r["doc_id"]: r["dup_3gram_frac"]
           for r in q_repetition_score(spark, str(tmp_path)).collect()}
    assert got == {1: round(1 - 3 / 7, 4), 2: 0.0, 3: 0.0, 4: 0.0}


def test_ann_ivf_invariants(spark):
    """IVF ANN (q_ann_ivf): results must be exactly the brute-force top-k
    RESTRICTED to the nprobe probed cells (the IVF contract — the probe
    bounds recall, the within-cell search is exact), with ≤ nprobe
    distinct cells in the output and every cos from the probed subset
    dominating the excluded-cell candidates it beat."""
    import numpy as np
    import pytest

    from subdomain_crawler_spark.plans import driver_queries as dq

    sf_dir = "/root/testdata/sf0.001"
    got = dq.q_ann_ivf(spark, sf_dir).collect()
    assert len(got) == dq._IVF_TOPK
    cells = {r["cell"] for r in got}
    assert len(cells) <= dq._IVF_NPROBE

    # numpy twin: same centroids, same round-4 argmax/probe/tie rules
    emb = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float32)
           for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
                          .collect()}
    qv = emb[0]
    cents = {i: emb[i] for i in range(1, dq._IVF_K + 1)}
    cos4 = lambda a, b: round(
        float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))), 4)
    assign = {v: min(cents, key=lambda c: (-cos4(e, cents[c]), c))
              for v, e in emb.items() if v != 0}
    probe = sorted(cents, key=lambda c: (-cos4(cents[c], qv), c))[
        :dq._IVF_NPROBE]
    want = sorted(((v, assign[v], cos4(emb[v], qv))
                   for v in assign if assign[v] in probe),
                  key=lambda t: (-t[2], t[0]))[:dq._IVF_TOPK]
    assert [(r["vec_id"], r["cell"], r["cos_sim"]) for r in got] == [
        (v, c, pytest.approx(s, abs=2e-4)) for v, c, s in want]


def test_simhash_near_dup_matches_brute_force(spark, tmp_path):
    """q_simhash_near_dup (the Manku-style simhash Hamming-3 web dedup,
    round 9) must equal the numpy brute force exactly: the fingerprint-
    agnostic MIH operator generates a candidate superset per band and the
    bit_count confirm trims it to precisely the ≤-radius set.  The corpus
    is crafted so true pairs exist (exact dup → dist 0; light token edits
    over a long shared body → small nonzero dists) alongside unrelated
    docs the confirm must reject."""
    import numpy as np
    import pandas as pd

    from subdomain_crawler_spark.plans.driver_queries import (
        _IMG_RADIUS, q_simhash_near_dup)

    base = ("the quick brown fox jumps over the lazy dog while the "
            "archive mirror indexes research dataset papers daily") * 3
    docs = {
        "d00": base,
        "d01": base,                       # exact dup: dist 0
        "d02": base + " extra",            # near dup: tiny token delta
        "d03": base.replace("fox", "cat"),
        "d04": "completely different words about spark shuffles and "
               "partitions and adaptive execution plans " * 3,
        "d05": "yet another unrelated document on audio codecs and "
               "pcm sixteen bit waveform windows " * 3,
    }
    pdf = pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    spark.createDataFrame(pdf).write.parquet(
        str(tmp_path / "documents.parquet"))

    sh = text.simhash64_batch(pdf["text"]).to_numpy(dtype=np.int64)
    want = set()
    for i in range(len(pdf)):
        for j in range(i + 1, len(pdf)):
            d = bin(int(sh[i]) ^ int(sh[j])).count("1")
            if d <= _IMG_RADIUS:
                a, b = sorted((pdf["doc_id"][i], pdf["doc_id"][j]))
                want.add((a, b, d))
    assert any(d == 0 for *_, d in want)   # the exact dup is in there
    got = {(r["left_doc"], r["right_doc"], r["dist"])
           for r in q_simhash_near_dup(spark, str(tmp_path)).collect()}
    assert got == want


def test_quality_filter_verdict_rejects_reserved_columns(spark):
    """Round-10 ADVICE: a caller frame already carrying an output or
    helper column name must fail loudly instead of producing ambiguous
    duplicate columns."""
    import pytest

    from subdomain_crawler_spark.plans.driver_queries import (
        quality_filter_verdict)

    d = spark.createDataFrame([(1, "a b c", "x")],
                              "doc_id long, text string, reason string")
    with pytest.raises(ValueError, match="reserved"):
        quality_filter_verdict(d)


def test_quality_filter_reasons(spark, tmp_path):
    """q_quality_filter (round 9): each reject rule fires on its designed
    doc and the first-failing-rule order is honored.  Stopword-bearing
    texts are built from the en-only / de-only lists so the language gate
    is unambiguous."""
    import pandas as pd

    from subdomain_crawler_spark.plans.driver_queries import q_quality_filter

    filler = [f"w{i:02d}" for i in range(60)]  # unique non-stopword tokens
    docs = {
        # kept: en stopwords every 3rd token, 30 tokens, all trigrams unique
        "d0": " ".join(x for trio in zip(filler[:10], filler[10:20],
                                         ["the", "of", "and", "to", "in",
                                          "is", "it", "for", "on", "with"])
                       for x in trio),
        # duplicate of d0's first-3-token key (loses the min-id race)
        "d1": " ".join([filler[0], filler[10], "the"] + filler[20:40]),
        # german: de-only stopwords dominate
        "d2": " ".join(["der", "die", "das", "und", "ist", "mit", "ein",
                        "den"] * 4),
        # english but short (< 20 tokens)
        "d3": "the of and to in is it on with for",
        # english but stopword-starved: 1 hit in 60 tokens = 0.0167 < 0.02
        "d4": " ".join(["the"] + filler[:59]),
        # english, long enough, good ratio, but one repeated trigram
        "d5": " ".join(["the", "cat", "sat"] * 8),
    }
    pdf = pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    spark.createDataFrame(pdf).write.parquet(
        str(tmp_path / "documents.parquet"))
    got = {r["doc_id"]: (r["reason"], r["keep"])
           for r in q_quality_filter(spark, str(tmp_path)).collect()}
    assert got == {
        "d0": ("kept", True),
        "d1": ("duplicate", False),
        "d2": ("non_english", False),
        "d3": ("too_short", False),
        "d4": ("low_quality", False),
        "d5": ("repetitive", False),
    }
