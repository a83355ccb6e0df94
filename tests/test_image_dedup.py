"""Image near-dup dedup: pHash Hamming via multi-index hashing (MIH).

Pins (a) the MIH pigeonhole guarantee the band join relies on, (b) the
fixture's designed distance structure, and (c) the three driver queries
against pure-python brute force (the DuckDB oracle re-proves the same at
sf-check time; this suite proves it without an engine in the loop).
"""

from __future__ import annotations

import numpy as np
import pytest

from subdomain_crawler_spark.plans import driver_queries as dq


def _corpus():
    import pyarrow.parquet as pq

    return pq.read_table(dq._ensure_img_corpus_fixture()).to_pandas()


def _bands(v: int):
    u = int(v) & 0xFFFFFFFFFFFFFFFF
    return [(u >> (16 * k)) & 0xFFFF for k in range(4)]


def _hamming(a: int, b: int) -> int:
    return bin((int(a) ^ int(b)) & 0xFFFFFFFFFFFFFFFF).count("1")


def _brute_pairs(df):
    ids = df["image_id"].to_numpy()
    ph = df["phash"].to_numpy(dtype=np.int64)
    out = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = _hamming(ph[i], ph[j])
            if d <= dq._IMG_RADIUS:
                a, b = sorted((ids[i], ids[j]))
                out.append((a, b, d))
    return sorted(out)


def test_mih_pigeonhole_property():
    """Any two 64-bit codes within Hamming 3 agree on ≥1 of the 4 16-bit
    bands — the theorem the candidate join is complete BY, checked over a
    deterministic sweep of worst-case flip placements."""
    rs = np.random.RandomState(99)
    for _ in range(500):
        base = int(rs.randint(0, 1 << 62)) | (int(rs.randint(0, 4)) << 62)
        flips = rs.choice(64, size=rs.randint(0, dq._IMG_RADIUS + 1),
                          replace=False)
        other = base
        for f in flips:
            other ^= 1 << int(f)
        assert any(x == y for x, y in zip(_bands(base), _bands(other)))


def test_fixture_distance_design():
    df = _corpus()
    ph = df["phash"].to_numpy(dtype=np.int64)
    n = len(ph)
    assert n == 4 * dq._IMG_GROUPS
    d = np.zeros((n, n), dtype=np.int64)
    for i in range(n):
        for j in range(i + 1, n):
            d[i, j] = d[j, i] = _hamming(ph[i], ph[j])
    groups = np.arange(n) // 4
    members = np.arange(n) % 4
    intra = groups[:, None] == groups[None, :]
    np.fill_diagonal(intra, False)
    # cross-group: never within radius (base separation ≥ 12, flips ≤ 4)
    assert d[~intra & (d > 0)].min() > dq._IMG_RADIUS if (~intra).any() else True
    cross = d[(groups[:, None] != groups[None, :])]
    assert cross.min() > dq._IMG_RADIUS
    # members 0-2 pairwise within radius; boundary distance 3 occurs
    trio = np.ix_(members <= 2, members <= 2)
    trio_d = d[trio][np.triu_indices((members <= 2).sum(), 1)]
    intra_trio = intra[trio][np.triu_indices((members <= 2).sum(), 1)]
    assert trio_d[intra_trio].max() <= dq._IMG_RADIUS
    assert (trio_d[intra_trio] == dq._IMG_RADIUS).any()
    # the 4-flip member is a singleton BUT shares a band with the base and
    # the 1-flip member (its flips live in the other two bands; member 2's
    # two flips may touch both remaining bands, so it is not guaranteed)
    for i in np.where(members == 3)[0]:
        sibs = np.where(intra[i])[0]
        assert (d[i, sibs] > dq._IMG_RADIUS).all()
        for j in sibs:
            if members[j] > 1:
                continue
            assert any(x == y for x, y in
                       zip(_bands(int(ph[i])), _bands(int(ph[j])))), \
                "designed rejected-candidate property broke"


def test_near_dup_pairs_match_bruteforce(spark):
    df = _corpus()
    got = sorted(
        tuple(r) for r in dq.q_img_near_dup_pairs(spark, "")
        .select("left_id", "right_id", "dist").collect())
    assert got == _brute_pairs(df)


def test_confirm_filter_is_load_bearing(spark):
    """The band join alone over-generates (designed cross-band collisions):
    distinct band-sharing candidates strictly exceed confirmed pairs."""
    imgs = dq._img_corpus(spark)
    from pyspark.sql import functions as F

    bands = imgs.select(
        "image_id",
        F.posexplode(F.array(*[
            F.shiftrightunsigned("phash", 16 * k).bitwiseAND(F.lit(0xFFFF))
            for k in range(4)])).alias("band", "bv"))
    a = bands.select(F.col("image_id").alias("l"), "band", "bv")
    b = bands.select(F.col("image_id").alias("r"), "band", "bv")
    cand = (a.join(b, ["band", "bv"]).filter(F.col("l") < F.col("r"))
             .select("l", "r").distinct().count())
    confirmed = dq.q_img_near_dup_pairs(spark, "").count()
    # (member-3 × base) and (member-3 × member-1) are candidates in every
    # group yet never confirm, so the gap is at least 2 per group
    assert cand >= confirmed + 2 * dq._IMG_GROUPS


def test_dup_groups_match_union_find(spark):
    df = _corpus()
    ids = df["image_id"].to_numpy()
    nid = {s: int(s[2:]) for s in ids}
    parent = {nid[s]: nid[s] for s in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in _brute_pairs(df):
        ra, rb = find(nid[a]), find(nid[b])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = sorted((s, find(nid[s])) for s in ids)
    got = sorted(tuple(r) for r in dq.q_img_dup_groups(spark, "").collect())
    assert got == want
    # designed singletons really are their own group
    sing = [g for s, g in got if int(s[2:]) % 4 == 3]
    assert sing == [i for i in range(len(ids)) if i % 4 == 3]


def test_caption_conflicts(spark):
    df = _corpus()
    caps = dict(zip(df["image_id"], df["caption"]))
    want = sorted(
        (a, b, d, caps[a], caps[b])
        for a, b, d in _brute_pairs(df) if caps[a] != caps[b])
    got = sorted(tuple(r) for r in
                 dq.q_img_caption_conflicts(spark, "").collect())
    assert got == want
    assert len(got) > 0  # the fixture plants conflicting-caption groups


def test_img_resize_query_invariant(spark):
    rows = dq.q_img_resize(spark, "").collect()
    assert len(rows) == 4 * dq._IMG_GROUPS
    ph = dict(zip(_corpus()["image_id"], _corpus()["phash"]))
    for r in rows:
        assert r["scale_invariant"] is True
        assert r["phash_up"] == r["phash_down"] == int(ph[r["image_id"]])
