"""Semantics tests for the training-data operators (dedup, similarity,
text analysis) — the rows-only probes get their correctness asserted here
(SURVEY.md L3 note; driver only checks rows for these)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from goose_spark import textops as T
from goose_spark.ann import q_ann_cosine_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    """documents-shaped corpus with planted exact + near duplicates."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 8
    near = base.replace("lazy dog", "sleepy dog", 1)  # one shingle changed
    other = "completely different content about spark shuffles and parquet files " * 8
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": [base, base, near, other, "tiny"],
        "lang": ["en"] * 5,
        "source": ["t"] * 5,
        "n_chars": [len(base), len(base), len(near), len(other), 4],
    })
    out = str(tmp_path_factory.mktemp("planted"))
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        out + "/documents.parquet")
    return out


def test_minhash_finds_planted_dups(spark, planted):
    pairs = T.q_minhash_pairs(spark, planted).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found          # exact dup → jaccard 1.0
    assert (1, 3) in found or (2, 3) in found  # near dup survives 0.8 gate
    assert all({a, b} != {4, 5} for a, b in found)
    j12 = [r.jaccard for r in pairs if (r.id_a, r.id_b) == (1, 2)][0]
    assert j12 == 1.0


def test_simhash_near_dups_close(spark, planted):
    rows = {r.doc_id: r.simhash for r in T.q_simhash(spark, planted).collect()}
    def hamming(a, b):
        return bin((a & 0xFFFFFFFFFFFFFFFF) ^ (b & 0xFFFFFFFFFFFFFFFF)).count("1")
    assert rows[1] == rows[2]                      # identical text
    assert hamming(rows[1], rows[3]) <= 6          # near dup: few bits differ
    assert hamming(rows[1], rows[4]) > 10          # unrelated: far apart


def test_lang_id_on_stopword_rich_text(spark, tmp_path_factory):
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11],
        "text": [
            "the cat is on the mat and it is happy with the food it has",
            "der hund ist nicht auf dem tisch und er hat auch keine zeit",
            "xyzzy qwerty plugh foobar",
            # late-r4 tables, incl. danda-suffixed hi copulas and a
            # sentence-initial Turkish dotted capital
            "यह घर में है। वह भी यहाँ है। हम सब साथ हैं।",
            "İçin bunu yaptı ve o da geldi ama ben de orada var idim",
            "αυτό είναι εδώ και αυτή είναι με τους άλλους για μας",
            "এবং এই বই থেকে আমরা কিছু শিখি তার জন্য সে আসে",
            # last-r4 tables: fa (vs the ar table), uk (vs ru), cs, ro
            "این برای شما است و ما با ایشان اینجا هستیم ولی او نیست",
            "це дуже добре що ми тут і вони також будуть з нами там",
            "když jsme byli tady tak oni také mohli být s námi tam",
            "această carte este pentru noi și fiecare dintre voi acum",
        ],
        "lang": ["en", "de", "xx", "hi", "tr", "el", "bn",
                 "fa", "uk", "cs", "ro"],
        "source": ["t"] * 11, "n_chars": [1] * 11,
    })
    out = str(tmp_path_factory.mktemp("langid"))
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(out + "/documents.parquet")
    got = {r.doc_id: r.guessed_lang for r in T.q_lang_id(spark, out).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "unknown"
    assert got[4] == "hi"
    assert got[5] == "tr"
    assert got[6] == "el"
    assert got[7] == "bn"
    assert got[8] == "fa"
    assert got[9] == "uk"
    assert got[10] == "cs"
    assert got[11] == "ro"


def test_dedup_exact_counts(spark, planted):
    res = T.q_dedup_exact(spark, planted).collect()
    by_keep = {r.keep_id: r.n_copies for r in res}
    assert by_keep[1] == 2  # docs 1 and 2 identical
    assert by_keep[3] == 1


def test_ann_cosine_topk_shape_and_selfsim(spark):
    df = q_ann_cosine_topk(spark, SF)
    rows = df.collect()
    assert len(rows) == 10
    assert all(-1.0001 <= r.cosine <= 1.0001 for r in rows)
    cos = [r.cosine for r in rows]
    assert cos == sorted(cos, reverse=True)


def test_simhash_pairs_banding_is_recall_lossless(spark, planted):
    """4×16-bit banding must find EXACTLY the brute-force pairs with
    hamming ≤ HAMMING_MAX (pigeonhole: ≤3 differing bits can touch at
    most 3 of the 4 bands)."""
    docs = spark.read.parquet(planted + "/documents.parquet")
    got = {(r.id_a, r.id_b): r.hamming
           for r in T.simhash_pairs(docs).collect()}
    sims = {r.doc_id: r.simhash for r in T.q_simhash(spark, planted).collect()}

    def hamming(a, b):
        return bin((a & 0xFFFFFFFFFFFFFFFF) ^ (b & 0xFFFFFFFFFFFFFFFF)).count("1")

    ids = sorted(sims)
    brute = {(a, b): hamming(sims[a], sims[b])
             for i, a in enumerate(ids) for b in ids[i + 1:]
             if hamming(sims[a], sims[b]) <= T.HAMMING_MAX}
    assert got == brute
    assert (1, 2) in got and got[(1, 2)] == 0  # planted exact dup
    assert all(4 not in p and 5 not in p for p in got)  # unrelated docs


def test_ann_lsh_probe_members_and_order(spark):
    from goose_spark import ann as A

    rows = A.q_ann_lsh_probe(spark, SF).collect()
    assert 0 < len(rows) <= A.TOP_K
    cosines = [r.cosine for r in rows]
    assert cosines == sorted(cosines, reverse=True)
    # every hit really lives in the query vector's bucket
    emb = {r.vec_id: list(r.embedding)
           for r in spark.read.parquet(SF + "/embeddings.parquet").collect()}
    bucket = {v: A._bucket_of([float(x) for x in e], A.N_PLANES_PROBE)
              for v, e in emb.items()}
    for r in rows:
        assert bucket[r.vec_id] == bucket[A.QUERY_VEC_ID], r.vec_id
    assert len(set(bucket.values())) > 4  # vectors actually spread over buckets


def test_ann_ivf_probe_recall_vs_bruteforce(spark):
    """nprobe=2 over 8 refined lists must recover a decent share of the
    true brute-force top-k (and be a subset of the full ranking)."""
    from goose_spark import ann as A

    probe = [r.vec_id for r in A.q_ann_ivf_probe(spark, SF).collect()]
    brute = [r.vec_id for r in A.q_ann_cosine_topk(spark, SF).collect()]
    assert len(probe) == A.TOP_K
    assert len(set(probe) & set(brute)) >= 3  # recall@10 ≥ 0.3 with nprobe=2/8


def test_semdedup_nondegenerate_and_lowest_kept(spark):
    """SemDeDup must (a) emit one decision per vector, (b) keep AND drop a
    non-trivial share at SEMDEDUP_TAU (a threshold outside the corpus's
    cosine mass would grade a vacuous probe), and (c) always keep each
    cluster's lowest vec_id — the deterministic representative can never
    be pruned because only LOWER-id neighbors can drop a vector."""
    from goose_spark import ann as A

    rows = A.q_semdedup(spark, SF).collect()
    assert len(rows) == 500
    kept = sum(r.kept for r in rows)
    assert 0 < kept < len(rows)
    lowest = {}
    for r in rows:
        if r.centroid_id not in lowest or r.vec_id < lowest[r.centroid_id].vec_id:
            lowest[r.centroid_id] = r
    assert all(r.kept == 1 for r in lowest.values())


# --- Connected components / keeper resolution (r3) ----------------------

def test_connected_components_transitive_collapse(spark):
    """Planted graph: chain 1-2-3 plus pair 10-11 plus isolated 99 —
    transitive groups collapse to min-id keepers, isolated nodes keep
    themselves (VERDICT r2 item 4 'done' criterion)."""
    from goose_spark.components import connected_components

    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "id long")
    # chain: 1~2, 2~3 (1~3 never scored) — 3 must still land on keeper 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long")
    got = {r["id"]: r["keeper_id"]
           for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_long_chain(spark):
    """A 12-node path needs multiple propagation rounds; the convergence
    detection (decimal label-sum fixpoint) must not stop early."""
    from goose_spark.components import connected_components

    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long")
    got = {r["id"]: r["keeper_id"]
           for r in connected_components(nodes, edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_unconverged_raises(spark):
    """Hitting max_iter before the label-sum fixpoint must degrade
    LOUDLY (ADVICE r3): a 6-node path cannot converge in 2 rounds."""
    import pytest as _pytest

    from goose_spark.components import connected_components

    n = 6
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long")
    with _pytest.raises(RuntimeError, match="fixpoint not confirmed"):
        connected_components(nodes, edges, max_iter=2).collect()
    with _pytest.raises(ValueError, match="max_iter"):
        connected_components(nodes, edges, max_iter=0)


def test_dedup_groups_covers_every_vector(spark):
    """q_dedup_groups: one row per vec_id; keepers are group minima; the
    sf0.001 synthetic embeddings produce at least one multi-node group."""
    from goose_spark.components import q_dedup_groups

    pdf = q_dedup_groups(spark, SF).toPandas()
    import duckdb
    n_vecs = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{SF}/embeddings.parquet')"
    ).fetchone()[0]
    assert len(pdf) == n_vecs
    assert pdf.vec_id.is_unique
    # keeper is a member of its own group and the group min
    grp = pdf.groupby("keeper_id")["vec_id"].min()
    assert (grp.index == grp.values).all()


@pytest.mark.parametrize("family", ["simhash", "minhash", "semdedup"])
def test_simhash_hot_bucket_routes_to_star_edges(spark, monkeypatch, tmp_path,
                                                 family):
    """VERDICT r2 item 7, for every family bucket_pairs serves: a
    pathological all-identical bucket must not build a quadratic pair
    expansion (or a giant collect_list array) — buckets over
    HOT_BUCKET_CAP emit linear star edges keyed by the exact value,
    component-equivalent to the clique for keeper resolution."""
    monkeypatch.setattr(T, "HOT_BUCKET_CAP", 3)
    n = 60
    if family == "semdedup":
        from goose_spark.ann import N_CENTROIDS, q_semdedup

        # seeds 0..7 are basis vectors; vec 100.. are n copies of one
        # vector at cosine 0.89 to seed 0, so cluster 0 is hot
        basis = [(i, [float(i == j) for j in range(N_CENTROIDS)])
                 for i in range(N_CENTROIDS)]
        dup = [1.0, 0.5] + [0.0] * (N_CENTROIDS - 2)
        spark.createDataFrame(
            basis + [(100 + i, dup) for i in range(n)],
            "vec_id long, embedding array<float>",
        ).write.parquet(f"{tmp_path}/embeddings.parquet")
        kept = {r.vec_id for r in q_semdedup(spark, str(tmp_path)).collect()
                if r.kept}
        # only identical vectors pair in a hot cluster: the copies fold
        # onto vec 100, which survives its seed neighbour — a hot
        # cluster under-deduplicates, it never drops a wrong vector
        assert kept == set(range(N_CENTROIDS)) | {100}
        return
    pdf = pd.DataFrame({
        "doc_id": range(n),
        "text": ["the same identical document text for every row here"] * n,
    })
    if family == "simhash":
        out = T.simhash_pairs(spark.createDataFrame(pdf)).toPandas()
        assert (out.hamming == 0).all()
    else:
        spark.createDataFrame(pdf).write.parquet(f"{tmp_path}/documents.parquet")
        out = T.q_minhash_pairs(spark, str(tmp_path)).toPandas()
        assert (out.jaccard == 1.0).all()
    # linear, not quadratic: n-1 star edges, all anchored at doc 0
    assert len(out) == n - 1
    assert set(out.id_a) == {0}
    assert set(out.id_b) == set(range(1, n))
    # downstream keeper resolution sees ONE component
    from goose_spark.components import connected_components
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        out.rename(columns={"id_a": "src", "id_b": "dst"})[["src", "dst"]])
    got = {r["id"]: r["keeper_id"]
           for r in connected_components(nodes, edges).collect()}
    assert got == {i: 0 for i in range(n)}


# --- Hot-domain pre-cap (r4) ---------------------------------------------

def test_precap_planted_hot_domain(spark):
    """A planted wordpress.com-sized domain: the pre-cap bounds what
    reaches the window to <= CAP x input-partitions rows for the hot
    domain, and the final kept set equals the kept rows of one window
    computed WITHOUT the pre-cap (the combiner never drops a keeper)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from goose_spark.filterops import precap_domains

    cap = 3
    rows = ([(i, 1000 + i, "hot.example") for i in range(2000)]
            + [(10_000 + i, 500 + i, f"cold{i % 7}.example")
               for i in range(70)])
    df = spark.createDataFrame(
        rows, "doc_id long, n_chars long, domain string").repartition(8)
    pre = precap_domains(df, cap)
    pre_counts = (pre.groupBy("domain").count().toPandas()
                  .set_index("domain")["count"])
    assert pre_counts["hot.example"] <= cap * 8  # bounded by cap x tasks
    # exactness: window over the pre-capped set == window over all rows
    win = Window.partitionBy("domain").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc())
    kept_pre = {tuple(r) for r in
                pre.withColumn("rnk", F.row_number().over(win))
                .filter(F.col("rnk") <= cap)
                .select("doc_id", "domain", "rnk").collect()}
    kept_all = {tuple(r) for r in
                df.withColumn("rnk", F.row_number().over(win))
                .filter(F.col("rnk") <= cap)
                .select("doc_id", "domain", "rnk").collect()}
    assert kept_pre == kept_all


def test_precap_accumulator_flush_is_exact(spark):
    """The bounded-memory re-cap path (flush_rows smaller than the
    partition) must not change results."""
    from goose_spark.filterops import precap_domains

    rows = [(i, i % 97, f"d{i % 5}") for i in range(3000)]
    df = spark.createDataFrame(
        rows, "doc_id long, n_chars long, domain string").coalesce(1)
    small = precap_domains(df, 4, flush_rows=100).collect()
    big = precap_domains(df, 4, flush_rows=1_000_000).collect()
    assert sorted(map(tuple, small)) == sorted(map(tuple, big))


# --- hashed decontamination (r4: the 10^12-row 8-byte-key shape) ----------

def test_decontaminate_hashed_matches_string_keys(spark):
    """xxhash64-keyed decontamination must produce the exact same
    verdicts as the same plan over the n-gram strings themselves, on the
    larger corpus (collisions are ~2^-64-improbable; any real difference
    is a bug)."""
    from goose_spark.filterops import (DECON_K, EVAL_STEP, _ngram_expr,
                                       q_decontaminate)

    sf = "/root/testdata/sf0.01"
    d = spark.read.parquet(sf + "/documents.parquet").select("doc_id", "text")
    grams = d.select("doc_id", F.explode(_ngram_expr(DECON_K)).alias("g"))
    eval_set = (grams.filter(F.col("doc_id") % EVAL_STEP == 0)
                .select("g").distinct())
    hits = (grams.join(F.broadcast(eval_set), "g")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits")))
    n_hits = F.coalesce("n_hits", F.lit(0))
    string_keyed = (d.select("doc_id").join(hits, "doc_id", "left")
                    .select("doc_id", n_hits.alias("n_hits"),
                            (n_hits > 0).alias("contaminated")))
    a = sorted(map(tuple, q_decontaminate(spark, sf).collect()))
    b = sorted(map(tuple, string_keyed.collect()))
    assert a == b
    assert any(r[2] for r in a) and not all(r[2] for r in a)


# --- md5int60 exactness (r4 minhash/simhash graduation) -------------------

def test_md5int60_cross_engine_exact(spark):
    """The md5-derived 60-bit base hash (and its mod-P reduction) must be
    bit-identical between Spark and DuckDB, including unicode and empty
    strings — the foundation of the oracle-backed minhash probe."""
    import duckdb

    from goose_spark.textops import _MD5INT60_SPARK, _MH_P

    words = ["hello", "a b c", "caf\xe9 x", "", "  spaced  ", "über"]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = [r[0] for r in df.selectExpr(
        _MD5INT60_SPARK.format(x="s") + f" % {_MH_P}").collect()]
    con = duckdb.connect()
    want = [con.execute(
        f"SELECT CAST(concat('0x', substr(md5(?),1,15)) AS BIGINT) % {_MH_P}",
        [w]).fetchone()[0] for w in words]
    assert got == want


# --- oracle corpus-assumption pins (r4 review findings) --------------------

def _grading_texts():
    import pyarrow.parquet as pq

    return pq.read_table("/root/testdata/sf0.01/documents.parquet",
                         columns=["text"])["text"].to_pylist()


def test_simhash_oracle_corpus_assumptions():
    """ORACLE_SIMHASH tokenizes with ASCII regex \\s+ and SQL lower();
    the Python kernel uses str.split() (Unicode whitespace) and
    str.lower() (full case-folding). Parity therefore REQUIRES the
    grading corpus to be ASCII with only space/tab/newline whitespace —
    pin it, so a corpus regeneration that breaks the assumption fails
    loudly here instead of as a driver hash-mismatch."""
    import re

    for t in _grading_texts():
        assert not re.search(r"[^\S \t\n]", t), "non-ASCII whitespace"
        assert all(ord(c) <= 126 for c in t), "non-ASCII character"


def test_simhash_pairs_no_hot_bucket_at_grading_sf():
    """The DuckDB twins of q_simhash_pairs, q_minhash_pairs /
    q_minhash_est_vs_exact and q_semdedup equal the Spark plans only
    while no bucket exceeds HOT_BUCKET_CAP (hot buckets route to star
    edges, the twins emit the clique). Pin the margin on the grading
    corpus for every bucket key: the SimHash (band_id, band_val), the
    MinHash (band_id, band_hash) and the SemDeDup cluster."""
    from collections import Counter

    import duckdb
    import pandas as pd

    from goose_spark.ann import ORACLE_SEMDEDUP
    from goose_spark.ducklab import duck_views
    from goose_spark.textops import HOT_BUCKET_CAP, SIMHASH_BANDS, _simhash_kernel

    sims = _simhash_kernel(pd.Series(_grading_texts()))
    counts = Counter(
        (b, (int(s) >> (16 * b)) & 0xFFFF)
        for s in sims for b in range(SIMHASH_BANDS))
    assert max(counts.values()) < HOT_BUCKET_CAP
    con = duck_views(duckdb.connect())
    band = con.execute(T._oracle_minhash_cte() + """
SELECT max(n) FROM (SELECT count(*) AS n FROM bands
                    GROUP BY band_id, band_hash)""").fetchone()[0]
    cluster = con.execute(f"""
SELECT max(n) FROM (SELECT count(*) AS n FROM ({ORACLE_SEMDEDUP})
                    GROUP BY centroid_id)""").fetchone()[0]
    assert 1 < band < HOT_BUCKET_CAP
    assert 1 < cluster < HOT_BUCKET_CAP


def test_precap_keeps_null_domains(spark):
    """pandas groupby drops null keys by default; the pre-cap must not
    (a null domain from an unparseable URL still owes its keepers)."""
    from goose_spark.filterops import precap_domains

    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, None), (3, 5, None), (4, 1, "a")],
        "doc_id long, n_chars long, domain string")
    rows = precap_domains(df, 4).collect()
    assert len(rows) == 4
    assert sum(1 for r in rows if r.domain is None) == 2


def test_minhash_est_tracks_exact_on_planted(spark, planted):
    """On the planted corpus the estimate must nail the exact dup
    (32/32) and land within the 32-permutation standard error
    (~sqrt(j(1-j)/32) ≈ 0.07) of the exact Jaccard for the near dup."""
    rows = {(r.id_a, r.id_b): r
            for r in T.q_minhash_est_vs_exact(spark, planted).collect()}
    exact_dup = rows[(1, 2)]
    assert exact_dup.n_match == T.N_PERM and exact_dup.jaccard_est == 1.0
    near = rows.get((1, 3)) or rows.get((2, 3))
    assert near is not None
    assert abs(near.jaccard_est - near.jaccard_exact) <= 0.25  # ~3.5 SE


def test_substring_dedup_planted_and_merge(spark):
    """A planted corpus: two docs share a long 24-token run (spans must
    merge into ONE maximal interval per doc), one doc is unique (no
    rows), one doc is too short for any window (no rows)."""
    import tempfile

    from goose_spark.textops import DUP_SPAN_K, q_substring_dedup

    shared = " ".join(f"s{i}" for i in range(DUP_SPAN_K + 8))
    rows = [
        (1, "alpha " + shared + " omega"),
        (2, "prefix one two " + shared),
        (3, " ".join(f"u{i}" for i in range(40))),
        (4, "too short"),
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(rows, "doc_id long, text string") \
            .write.parquet(td + "/documents.parquet")
        out = q_substring_dedup(spark, td)
        got = {r.doc_id: r for r in out.collect()}
    # exactly the two sharing docs, one merged span each
    assert set(got) == {1, 2}
    # doc 1: shared run is tokens 2..25 (1-based, after "alpha")
    assert (got[1].start_tok, got[1].end_tok) == (2, DUP_SPAN_K + 8 + 1)
    assert got[1].span_tokens == DUP_SPAN_K + 8
    # doc 2: run starts at token 4 (after 3 prefix tokens), ends at EOS
    assert (got[2].start_tok, got[2].end_tok) == (4, DUP_SPAN_K + 8 + 3)
    assert got[2].max_occ == 2


def test_bloom_gate_no_false_negatives_and_live_fp_arm(spark):
    """The Bloom guarantee: NEVER a false negative (a truly-seen url
    always hits). The grading-size filter must also exercise the
    false-positive arm, or the approximation is vacuously graded."""
    from goose_spark.textops import q_bloom_dedup

    rows = q_bloom_dedup(spark, "/root/testdata/sf0.001").collect()
    assert all(r.bloom_hit for r in rows if r.truly_seen)
    fps = [r for r in rows if r.false_pos]
    assert len(fps) > 0, "BLOOM_M too large: fp arm never exercised"
    # and the fp rate stays a PRE-filter, not a sieve that passes all
    assert len(fps) < 0.2 * len(rows)


def test_substring_clean_removes_exactly_the_planted_span(spark):
    """Clean = original minus covered tokens; untouched docs keep their
    exact original token stream (md5 equality against a recomputation)."""
    import hashlib
    import tempfile

    from goose_spark.textops import DUP_SPAN_K, q_substring_clean

    shared = " ".join(f"s{i}" for i in range(DUP_SPAN_K + 8))
    uniq = " ".join(f"u{i}" for i in range(40))
    rows = [
        (1, "alpha " + shared + " omega"),
        (2, "prefix one two " + shared),
        (3, uniq),
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(rows, "doc_id long, text string") \
            .write.parquet(td + "/documents.parquet")
        got = {r.doc_id: r for r in q_substring_clean(spark, td).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    # doc 1: "alpha" + "omega" survive
    assert got[1].kept_tokens == 2
    assert got[1].clean_md5 == md5("alpha omega")
    # doc 2: the three prefix tokens survive
    assert got[2].kept_tokens == 3
    assert got[2].clean_md5 == md5("prefix one two")
    # doc 3: untouched, byte-identical
    assert got[3].kept_tokens == 40
    assert got[3].clean_md5 == md5(uniq)
