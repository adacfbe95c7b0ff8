"""Corpus-filtering operators a CC-scale training-data pipeline runs
between extraction and dedup: PII redaction, repetition-based quality
signals (the second half of the Gopher rule set — `textops.q_gopher_rules`
covers the length/symbol/bullet half), and per-domain frequency capping.

Design rules follow textops.py: every operator is pure
``pyspark.sql.functions`` (whole-stage codegen, zero Python in the hot
path); the documents table carries no url/PII columns, so — like
`textops.q_url_normalize` — the inputs are synthesized deterministically
from doc_id by an expression template shared verbatim with the DuckDB
oracle (``{S}`` = STRING in Spark, VARCHAR in DuckDB), keeping every
probe value-hash-checkable.

Scale shapes (10^12 rows):
- PII redaction: scan → project, NO shuffle; regex chain is codegen.
- repetition signals: the distributed-wordcount shape — explode →
  partial-agg (map-side combine on (doc_id, token)) → final agg on
  doc_id; the join of word-stats with bigram-stats is doc_id-keyed and
  co-partitioned by the preceding aggregations.
- domain cap: ONE shuffle on domain + in-partition sort. Hot domains
  (a wordpress.com at CC scale) would skew this window, so a pre-cap —
  per-input-partition top-(CAP) on (domain, quality) before the shuffle
  — drops all but O(CAP × tasks) rows per domain. AQE's skew-join
  splitting cannot do that for windows, so it is the pipeline's job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from goose_spark.queries import load

# ------------------------------------------------------------ PII redact --
# Deterministic PII decoration keyed on doc_id (corpus text carries none):
# ~1/3 of docs get an email, ~1/4 a phone, ~1/5 an IPv4, with overlaps.
# The patterns avoid every Java-vs-RE2 divergence (no backrefs, no
# lookaround, no \b) so Spark and DuckDB match identical spans.
_PII_SYNTH_T = (
    "concat(text,"
    " CASE WHEN doc_id % 3 = 0 THEN concat(' Contact user',"
    "   CAST(doc_id AS {S}), '@mail', CAST(doc_id % 7 AS {S}),"
    "   '.example for details.') ELSE '' END,"
    " CASE WHEN doc_id % 4 = 1 THEN concat(' Call +1-555-',"
    "   lpad(CAST(doc_id % 10000 AS {S}), 4, '0'), ' now.') ELSE '' END,"
    " CASE WHEN doc_id % 5 = 2 THEN concat(' Served by 10.',"
    "   CAST(doc_id % 250 AS {S}), '.0.', CAST(doc_id % 200 AS {S}),"
    "   ' backend.') ELSE '' END)"
)

# (pattern, replacement) applied in order; counting happens pre-redaction.
_PII_RULES = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+\d{1,2}-\d{3}-\d{4}", "<PHONE>"),
    ("ip", r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<IP>"),
)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over synthesized doc_id-keyed decorations: per-category
    match counts + md5 of the fully redacted text. Scan → project, no
    shuffle; the regex chain is one codegen stage."""
    d = load(spark, sf_dir, "documents")
    t = F.expr(_PII_SYNTH_T.format(S="STRING"))
    cols = [F.col("doc_id")]
    red = t
    for name, pat, repl in _PII_RULES:
        cols.append(
            F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))
            .cast("long").alias(f"n_{name}"))
        red = F.regexp_replace(red, pat, repl)
    cols.append(F.md5(red.cast("binary")).alias("redacted_md5"))
    return d.select(*cols)


def _oracle_pii() -> str:
    t = _PII_SYNTH_T.format(S="VARCHAR")
    counts, red = [], t
    for name, pat, repl in _PII_RULES:
        p = pat.replace("'", "''")
        counts.append(
            f"CAST(len(regexp_extract_all({t}, '{p}')) AS BIGINT) AS n_{name}")
        red = f"regexp_replace({red}, '{p}', '{repl}', 'g')"
    return (f"SELECT doc_id, {', '.join(counts)}, md5({red}) AS redacted_md5\n"
            f"FROM documents")


ORACLE_PII_REDACT = _oracle_pii()


# ---------------------------------------------------- repetition signals --
# Gopher's repetition-removal half: fraction of occurrences taken by the
# most frequent word / bigram, and the distinct-word fraction. Thresholds
# are pipeline policy, centralized here (the published rules use
# per-n-gram character fractions; occurrence fractions carry the same
# signal and stay integer-exact until the final rounded division).
REP_MAX_TOP_WORD_FRAC = 0.20
REP_MAX_TOP_BIGRAM_FRAC = 0.18
REP_MIN_DISTINCT_FRAC = 0.30

_WORDS = "split(lower(trim(text)), '\\\\s+')"
# Bind the words array ONCE via the single-element-array transform trick:
# Spark's higher-order lambdas re-evaluate inlined subexpressions per
# element (no CSE), so referencing split(...) twice per bigram would be
# O(n) splits per row.
_BIGRAMS = (
    "flatten(transform(array(" + _WORDS + "), w -> CASE"
    " WHEN size(w) < 2 THEN array()"
    " ELSE transform(sequence(1, size(w) - 1),"
    "      i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) END))"
)


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gate: distributed wordcount (explode →
    partial agg → per-doc max) for words and bigrams, joined on doc_id."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    wc = (d.select("doc_id", F.explode(F.expr(_WORDS)).alias("w"))
          .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c")))
    ws = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_w"))
    bc = (d.select("doc_id", F.explode(F.expr(_BIGRAMS)).alias("b"))
          .groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c")))
    bs = bc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_b"))
    j = ws.join(bs, "doc_id")
    top_w_frac = F.round(F.col("top_w") / F.col("n_words"), 6)
    top_b_frac = F.round(F.col("top_b") / F.col("n_bigrams"), 6)
    distinct_frac = F.round(F.col("n_distinct") / F.col("n_words"), 6)
    passes = ((top_w_frac <= REP_MAX_TOP_WORD_FRAC)
              & (top_b_frac <= REP_MAX_TOP_BIGRAM_FRAC)
              & (distinct_frac >= REP_MIN_DISTINCT_FRAC))
    return j.select(
        "doc_id", "n_words", "n_distinct",
        top_w_frac.alias("top_word_frac"),
        top_b_frac.alias("top_bigram_frac"),
        distinct_frac.alias("distinct_frac"),
        passes.alias("passes"))


ORACLE_REPETITION_FILTER = f"""
WITH w AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents),
wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w),
ws AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
              COUNT(*) AS n_distinct, MAX(c) AS top_w
       FROM wc GROUP BY doc_id),
toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
         FROM documents),
b AS (
  SELECT doc_id,
         unnest(CASE WHEN len(l) < 2 THEN []
                ELSE list_transform(generate_series(1, len(l) - 1),
                                    i -> l[i] || ' ' || l[i + 1]) END) AS b
  FROM toks),
bc AS (SELECT doc_id, b, COUNT(*) AS c FROM b GROUP BY doc_id, b),
bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS top_b
       FROM bc GROUP BY doc_id)
SELECT ws.doc_id, n_words, n_distinct,
       ROUND(CAST(top_w AS DOUBLE) / n_words, 6) AS top_word_frac,
       ROUND(CAST(top_b AS DOUBLE) / n_bigrams, 6) AS top_bigram_frac,
       ROUND(CAST(n_distinct AS DOUBLE) / n_words, 6) AS distinct_frac,
       (ROUND(CAST(top_w AS DOUBLE) / n_words, 6) <= {REP_MAX_TOP_WORD_FRAC}
        AND ROUND(CAST(top_b AS DOUBLE) / n_bigrams, 6)
            <= {REP_MAX_TOP_BIGRAM_FRAC}
        AND ROUND(CAST(n_distinct AS DOUBLE) / n_words, 6)
            >= {REP_MIN_DISTINCT_FRAC}) AS passes
FROM ws JOIN bs ON ws.doc_id = bs.doc_id
"""


# --------------------------------------------------------- domain capping --
_DOMAIN_SYNTH_T = "concat('site', CAST(doc_id % 37 AS {S}), '.example')"
DOMAIN_CAP = 5  # keep the CAP highest-quality docs per domain


def precap_domains(df: DataFrame, cap: int,
                   flush_rows: int = 50_000) -> DataFrame:
    """Hot-domain pre-cap (the map-side combiner the module docstring
    promises): per INPUT partition, keep only the top-`cap` rows of each
    domain by (n_chars desc, doc_id asc) — so the domain-keyed shuffle
    that feeds the global ranking window carries at most
    O(cap × input-tasks) rows per domain, no matter how hot the domain
    (a wordpress.com at CC scale). AQE's skew handling cannot split a
    window partition, so this bound is the pipeline's job.

    Shape: ONE mapInPandas pass, ZERO shuffle (plan-asserted in
    tests/test_plans.py). The per-partition accumulator re-caps itself
    every `flush_rows` rows, so memory is bounded by
    O(cap × domains-in-partition + flush_rows) regardless of partition
    size. Exactness: the ordering is total (doc_id tie-break), and the
    global top-`cap` of a domain is contained in the union of
    per-partition top-`cap`s — the pre-cap never drops a keeper.
    Columns: (doc_id, n_chars, domain) only — the wide text column never
    enters this path.
    """
    cols = ["doc_id", "n_chars", "domain"]
    df = df.select(*cols)

    def fn(batches):
        import pandas as pd

        def recap(frames):
            acc = pd.concat(frames, ignore_index=True)
            acc = acc.sort_values(
                ["n_chars", "doc_id"], ascending=[False, True],
                kind="mergesort")
            # dropna=False: pandas groupby silently drops null keys by
            # default — a null domain (unparseable URL upstream) must
            # still honor "the pre-cap never drops a keeper"
            return acc.groupby("domain", sort=False, dropna=False).head(cap)

        parts: list = []
        n = 0
        for pdf in batches:
            parts.append(pdf)
            n += len(pdf)
            if n > flush_rows:
                parts = [recap(parts)]
                n = len(parts[0])
        if parts:
            yield recap(parts)

    return df.mapInPandas(fn, df.schema)


def q_domain_cap_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kept set of the domain cap, computed THROUGH the hot-domain
    pre-cap: precap_domains (zero-shuffle combiner) → one domain-keyed
    window over the bounded survivor set → rnk <= CAP. Same keepers as
    one window over the raw domain (pytest-asserted with a planted hot
    domain), but the window input is O(CAP × tasks) per domain instead
    of the raw domain frequency — the shape that survives 10^12 rows."""
    d = load(spark, sf_dir, "documents")
    dom = F.expr(_DOMAIN_SYNTH_T.format(S="STRING"))
    capped = precap_domains(
        d.select("doc_id", "n_chars", dom.alias("domain")), DOMAIN_CAP)
    win = Window.partitionBy("domain").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc())
    return (capped.withColumn("rnk", F.row_number().over(win))
            .filter(F.col("rnk") <= DOMAIN_CAP)
            .select("doc_id", "domain",
                    F.col("rnk").cast("long").alias("rnk")))


ORACLE_DOMAIN_CAP_KEPT = f"""
WITH t AS (
  SELECT doc_id, {_DOMAIN_SYNTH_T.format(S='VARCHAR')} AS domain,
         ROW_NUMBER() OVER (PARTITION BY {_DOMAIN_SYNTH_T.format(S='VARCHAR')}
                            ORDER BY n_chars DESC, doc_id) AS rnk
  FROM documents)
SELECT doc_id, domain, CAST(rnk AS BIGINT) AS rnk
FROM t WHERE rnk <= {DOMAIN_CAP}
"""


# -------------------------------------------------- decontamination -----
# Benchmark decontamination: flag training documents that share any
# word-K-gram with an eval set. The eval set here is synthesized
# deterministically (every EVAL_STEP-th document plays the benchmark),
# so the oracle can rebuild it; in production it is the actual eval
# suite — tiny relative to the corpus, hence the broadcast shape.
DECON_K = 8
EVAL_STEP = 50  # doc_id % EVAL_STEP == 0 → eval doc


def _ngram_expr(k: int):
    """Word k-grams as an array column; the token array is bound once
    (single-element-array transform) — see _BIGRAMS for why."""
    return F.expr(
        "flatten(transform(array(" + _WORDS + "), w -> CASE"
        f" WHEN size(w) < {k} THEN array()"
        f" ELSE transform(sequence(1, size(w) - {k} + 1),"
        f"      i -> concat_ws(' ', slice(w, i, {k}))) END))")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc eval-overlap verdict: n-grams of every EVAL_STEP-th doc
    form the eval set (distinct, broadcast); every doc is flagged with
    its hit count. Scale shape: every n-gram is xxhash64-reduced to an
    8-byte key BEFORE the join, so the exploded train side carries
    (doc_id, int64) instead of ~50-byte strings and the broadcast eval
    set is 8 bytes/entry — at 10^12 rows that is the difference between
    a broadcastable eval set and one that forces a shuffle. The train
    side joins the BROADCAST eval set (no shuffle of the exploded rows);
    the only exchange is the (doc_id, count) partial aggregation,
    left-joined back so zero-hit docs get an explicit verdict. The
    string-key oracle grades it: the verdicts differ only on an xxhash64
    collision (P ≈ n_eval·n_grams/2^64)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    grams = (d.select("doc_id", F.explode(_ngram_expr(DECON_K)).alias("gs"))
             .select("doc_id", F.xxhash64("gs").alias("g")))
    eval_set = (grams.filter(F.col("doc_id") % EVAL_STEP == 0)
                .select("g").distinct())
    hits = (grams.join(F.broadcast(eval_set), "g")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits")))
    return (d.select("doc_id").join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                    (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated")))


ORACLE_DECONTAMINATE = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents),
g AS (
  SELECT doc_id,
         unnest(CASE WHEN len(w) < {DECON_K} THEN []
                ELSE list_transform(generate_series(1, len(w) - {DECON_K} + 1),
                     i -> array_to_string(list_slice(w, i, i + {DECON_K} - 1),
                                          ' ')) END) AS gram
  FROM t),
e AS (SELECT DISTINCT gram FROM g WHERE doc_id % {EVAL_STEP} = 0),
h AS (SELECT g.doc_id, COUNT(*) AS n_hits
      FROM g JOIN e ON g.gram = e.gram GROUP BY g.doc_id)
SELECT d.doc_id,
       COALESCE(h.n_hits, 0) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
"""


# ---------------------------------------------------- quality classifier --
# fastText-style hashed linear classifier INFERENCE at corpus scale: the
# model-based quality filter (DCLM/DataComp-style) that scores every doc
# with a linear model over hashed unigram + bigram features. Hashed
# features mean NO vocabulary table at all — the weight of a token is a
# pure function of its hash (at deploy, the hash indexes a broadcast
# weight ARRAY; here the synthesized weight IS the hash folded into
# [-1000, 1000]) — so scoring is one codegen projection: the corpus
# never shuffles, never joins, never leaves its input partition.
#
# The verdict compares raw integer SUMS against zero instead of mean
# weights: no integer division on possibly-negative sums (Spark `div`
# and DuckDB `//` agree provably only for non-negative operands).


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc hashed-linear quality score: sum of md5-hashed unigram
    and bigram feature weights, verdict = (uni_sum + bi_sum >= 0).
    Pure whole-stage-codegen expressions; repeated fold subtrees inside
    ONE projection are deduplicated by codegen subexpression
    elimination (it is only lambda interiors that defeat CSE —
    tests/test_plans.py asserts the zero-shuffle single-stage shape)."""
    from goose_spark.textops import _MD5INT60_SPARK

    w = "(" + _MD5INT60_SPARK.format(x="t") + " % 2001) - 1000"
    fold = ("aggregate(transform({arr}, t -> " + w + "),"
            " cast(0 as bigint), (a, x) -> a + x)")
    uni = fold.format(arr=_WORDS)
    bi = fold.format(arr=_BIGRAMS)
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr(f"size({_WORDS})").cast("long").alias("n_tokens"),
        F.expr(uni).alias("uni_sum"),
        F.expr(f"size({_BIGRAMS})").cast("long").alias("n_bigrams"),
        F.expr(bi).alias("bi_sum"),
        F.expr(f"({uni} + {bi}) >= 0").alias("keep"),
    )


_DUCK_W = ("(CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)"
           " % 2001) - 1000")
_DUCK_WS = "string_split_regex(lower(trim(text)), '\\s+')"
# DuckDB bigram list identical to filterops._BIGRAMS semantics
# (empty when < 2 words; generate_series(1, 0) is empty)
_DUCK_BS = ("list_transform(generate_series(1, len(ws) - 1),"
            " i -> ws[i] || ' ' || ws[i + 1])")

ORACLE_QUALITY_CLASSIFIER = f"""
WITH t AS (SELECT doc_id, {_DUCK_WS} AS ws FROM documents),
b AS (SELECT doc_id, ws, {_DUCK_BS} AS bs FROM t),
s AS (SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_tokens,
             CAST(COALESCE(list_sum(list_transform(ws, t -> {_DUCK_W})), 0)
                  AS BIGINT) AS uni_sum,
             CAST(len(bs) AS BIGINT) AS n_bigrams,
             CAST(COALESCE(list_sum(list_transform(bs, t -> {_DUCK_W})), 0)
                  AS BIGINT) AS bi_sum
      FROM b)
SELECT doc_id, n_tokens, uni_sum, n_bigrams, bi_sum,
       (uni_sum + bi_sum) >= 0 AS keep
FROM s
"""


# -------------------------------------------------------- corpus funnel --
# The end-to-end corpus build: every quality/dedup/budget gate this repo
# ships, composed in the order a production pipeline runs them, with
# per-stage survivor counts — the funnel report a data-pipeline owner
# actually reads. Each stage REUSES the probe operator itself (one
# definition per gate; the funnel is composition, not re-implementation)
# and the DuckDB twin composes the same per-gate oracles as nested CTEs,
# so the funnel's hash gate transitively re-checks five operators in one
# row set.
#
# Scale shape: every inter-stage join is doc_id-keyed (co-partitioned
# on a table bucketed by doc_id → zero-exchange), and each gate's own
# shuffle discipline is unchanged from its standalone probe. The funnel
# adds counts, not new corpus-sized shuffles.
FUNNEL_STAGES = ("all", "gopher", "repetition", "exact_dedup",
                 "domain_cap", "mix_sample")


def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goose_spark.corpusops import q_mix_sample
    from goose_spark.textops import q_dedup_exact, q_gopher_rules

    d = load(spark, sf_dir, "documents").select("doc_id")
    gates = [
        q_gopher_rules(spark, sf_dir).filter("passes").select("doc_id"),
        q_repetition_filter(spark, sf_dir).filter("passes")
        .select("doc_id"),
        q_dedup_exact(spark, sf_dir)
        .select(F.col("keep_id").alias("doc_id")),
        q_domain_cap_kept(spark, sf_dir).select("doc_id"),
        q_mix_sample(spark, sf_dir).filter("kept").select("doc_id"),
    ]
    # SINGLE PASS: each gate joins once as a presence flag; the six
    # survivor counts come out of ONE aggregate and unpivot via stack.
    # (A per-stage chain of unioned count branches would re-execute
    # every upstream gate's DAG once per downstream stage — Spark does
    # not guarantee exchange reuse across unionAll branches.)
    flags = d
    for i, g in enumerate(gates, start=1):
        flags = flags.join(g.withColumn(f"f{i}", F.lit(1)),
                           "doc_id", "left")
    aggs = [F.count(F.lit(1)).cast("long").alias("c0")]
    cond = None
    for i in range(1, len(FUNNEL_STAGES)):
        this = F.col(f"f{i}").isNotNull()
        cond = this if cond is None else (cond & this)
        aggs.append(F.sum(F.when(cond, 1).otherwise(0))
                    .cast("long").alias(f"c{i}"))
    one = flags.agg(*aggs)
    stack_args = ", ".join(
        f"{i}, '{name}', c{i}" for i, name in enumerate(FUNNEL_STAGES))
    return one.select(F.expr(
        f"stack({len(FUNNEL_STAGES)}, {stack_args})"
        " as (stage, gate, n_kept)"))


def _oracle_corpus_funnel() -> str:
    from goose_spark.corpusops import ORACLE_MIX_SAMPLE
    from goose_spark.textops import ORACLE_DEDUP_EXACT, ORACLE_GOPHER_RULES

    parts = [
        f"WITH gq AS ({ORACLE_GOPHER_RULES}),",
        f"rq AS ({ORACLE_REPETITION_FILTER}),",
        f"kq AS ({ORACLE_DEDUP_EXACT}),",
        f"dq AS ({ORACLE_DOMAIN_CAP_KEPT}),",
        f"mq AS ({ORACLE_MIX_SAMPLE}),",
        "c0 AS (SELECT doc_id FROM documents),",
        "c1 AS (SELECT c0.doc_id FROM c0 JOIN gq USING (doc_id)"
        " WHERE gq.passes),",
        "c2 AS (SELECT c1.doc_id FROM c1 JOIN rq USING (doc_id)"
        " WHERE rq.passes),",
        "c3 AS (SELECT c2.doc_id FROM c2 JOIN kq ON c2.doc_id = kq.keep_id),",
        "c4 AS (SELECT c3.doc_id FROM c3 JOIN dq USING (doc_id)),",
        "c5 AS (SELECT c4.doc_id FROM c4 JOIN mq USING (doc_id)"
        " WHERE mq.kept)",
    ]
    selects = [
        f"SELECT CAST({i} AS INT) AS stage, '{name}' AS gate,"
        f" CAST(COUNT(*) AS BIGINT) AS n_kept FROM c{i}"
        for i, name in enumerate(FUNNEL_STAGES)
    ]
    return "\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


ORACLE_CORPUS_FUNNEL = _oracle_corpus_funnel()


# ----------------------------------------- CCNet head/middle/tail buckets --
# CCNet's defining move: score every document with a language-model
# signal, split each LANGUAGE into exact head/middle/tail terciles of
# that score, and let downstream consumers pick buckets (train on head,
# sample middle, drop tail). This box is offline, so the probe's score
# is the standard lexical-diversity proxy (distinct-token fraction,
# fixed-point x1e6 — the same integer-exact discipline as the other
# filter probes); the bucketing machinery is the operator under test
# and is score-agnostic: swap in a perplexity column and nothing else
# changes.
#
# Scale shape: a naive per-lang NTILE is a global per-lang sort — one
# language's 10^11 rows land in one window partition. Instead the
# terciles come from the q_length_quantiles discipline: aggregate to a
# (lang, score) histogram FIRST (map-side combine, output bounded by
# distinct score values <= 1e6 per lang regardless of corpus size), run
# the cumulative window over the tiny histogram, reduce to one
# (t1, t2) row per lang, and broadcast-join the thresholds back onto
# the corpus — the only wide exchange is the histogram aggregate on a
# (lang, score) key no hotter than the corpus' language skew, which is
# exactly what AQE splits.


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    s = d.select(
        "doc_id", "lang",
        (F.size(F.array_distinct(toks)).cast("long") * 1000000).alias("num"),
        F.size(toks).cast("long").alias("den"),
    ).select("doc_id", "lang", F.expr("num div den").alias("score"))
    hist = s.groupBy("lang", "score").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("lang").orderBy("score")
    wall = Window.partitionBy("lang")
    cum = (hist.withColumn("cum", F.sum("c").over(w))
           .withColumn("n", F.sum("c").over(wall)))
    thr = cum.groupBy("lang").agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("n"),
                     F.col("score"))).alias("t1"),
        F.min(F.when(F.col("cum") * 3 >= F.col("n") * 2,
                     F.col("score"))).alias("t2"))
    return (s.join(F.broadcast(thr), "lang")
            .select("doc_id", "lang", "score",
                    F.when(F.col("score") <= F.col("t1"), F.lit("tail"))
                    .when(F.col("score") <= F.col("t2"), F.lit("middle"))
                    .otherwise(F.lit("head")).alias("bucket")))


ORACLE_CCNET_BUCKETS = r"""
WITH s AS (
  SELECT doc_id, lang,
         (CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
               AS BIGINT) * 1000000)
         // CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             AS score
  FROM documents),
hist AS (SELECT lang, score, COUNT(*) AS c FROM s GROUP BY 1, 2),
cum AS (
  SELECT lang, score,
         SUM(c) OVER (PARTITION BY lang ORDER BY score) AS cum,
         SUM(c) OVER (PARTITION BY lang) AS n
  FROM hist),
thr AS (
  SELECT lang,
         MIN(CASE WHEN cum * 3 >= n THEN score END) AS t1,
         MIN(CASE WHEN cum * 3 >= n * 2 THEN score END) AS t2
  FROM cum GROUP BY lang)
SELECT doc_id, s.lang, score,
       CASE WHEN score <= t1 THEN 'tail'
            WHEN score <= t2 THEN 'middle'
            ELSE 'head' END AS bucket
FROM s JOIN thr ON s.lang = thr.lang
"""


# ------------------------------------------------ unigram LM surprisal --
# The trainable half of the CCNet quality signal: CCNet scores every
# document with a language-model perplexity; the distributable form of
# that statistic is (1) TRAIN: one vocabulary-keyed count aggregate
# over the corpus, capped to the top-V terms exactly like a deployed
# KenLM vocab is bounded, and (2) SCORE: per-token surprisal
# -log2 p(token) summed per document, out-of-vocabulary tokens scored
# at the count-1 floor. Exact-integer discipline: log2 is evaluated in
# floor space as length(bin(x))-1 — bit-identical in both engines — so
# the probe's "bits" are integer floor-log2 bits, the same monotone
# ordering as the float statistic without any cross-engine float risk.
# V is 16 here (the synthetic corpus has 31 distinct tokens, so the
# OOV arm is live at grading scale); at 10^12 docs V is the deployed
# vocab bound (10^6-ish) and everything below still holds.
#
# Scale shape: train is ONE (term, long) hash aggregate with map-side
# combine (tokens explode but combine collapses them before the
# exchange); the top-V cut is TakeOrderedAndProject (never a global
# window); scoring broadcast-joins the V-row vocab onto the exploded
# tokens — the fat text column dies at the first projection and tokens
# never shuffle; the per-doc sum re-aggregates on doc_id with map-side
# combine. Two corpus passes, one bounded exchange each.
UNIGRAM_TOP_V = 16


def q_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goose_spark.queries import load as _load

    d = _load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))),
                          r"\s+")).alias("term"))
    vocab_full = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    n_total = vocab_full.agg(F.sum("c").alias("n_total"))
    vocab = (vocab_full.orderBy(F.col("c").desc(), F.col("term"))
             .limit(UNIGRAM_TOP_V))
    bits = (F.length(F.bin(F.col("n_total"))) - 1
            - F.when(F.col("c").isNull(), F.lit(0))
            .otherwise(F.length(F.bin(F.col("c"))) - 1))
    scored = (toks.join(F.broadcast(vocab), "term", "left")
              .crossJoin(F.broadcast(n_total))
              .select("doc_id", bits.alias("s")))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum("s").alias("surprisal_bits"))
            .select("doc_id", "n_tokens", "surprisal_bits",
                    F.expr("(surprisal_bits * 1000) div n_tokens")
                    .alias("bits_x1000")))


ORACLE_UNIGRAM_LM_SCORE = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents),
vocab_full AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM vocab_full),
vocab AS (SELECT term, c FROM vocab_full
          ORDER BY c DESC, term LIMIT {UNIGRAM_TOP_V}),
s AS (
  SELECT t.doc_id,
         (length(bin(n_total)) - 1
          - CASE WHEN v.c IS NULL THEN 0
                 ELSE length(bin(v.c)) - 1 END) AS s
  FROM toks t LEFT JOIN vocab v USING (term) CROSS JOIN nt)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(s) AS BIGINT) AS surprisal_bits,
       CAST(SUM(s) AS BIGINT) * 1000 // COUNT(*) AS bits_x1000
FROM s GROUP BY doc_id
"""


def q_soft404(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 detection — the crawl-hygiene gate for error pages served
    with status 200 (a large, well-documented fraction of real crawl
    responses): phrase evidence ("page not found" / "404 error" /
    "no longer available", case-folded contains — no regex dialect to
    disagree on cross-engine) OR a stub-length page (< 20 whitespace
    tokens, the q_token_count expression both engines already conform
    on). Pure codegen scan→project, zero shuffles; at crawl scale this
    runs beside the gopher gate in the same pass. Phrase arms are kept
    live by decorating a deterministic doc_id slice with each phrase —
    the decoration is shared verbatim with the oracle, while the
    CLASSIFIER columns are recomputed independently per engine."""
    d = load(spark, sf_dir, "documents")
    body = F.when(F.col("doc_id") % 41 == 0,
                  F.concat(F.lit("Oops — Page Not Found. "), F.col("text")))\
        .when(F.col("doc_id") % 43 == 0,
              F.concat(F.col("text"), F.lit(" [404 Error]")))\
        .when(F.col("doc_id") % 47 == 0,
              F.lit("This content is no longer available."))\
        .otherwise(F.col("text"))
    low = F.lower(body)
    phrase = (low.contains("page not found")
              | low.contains("404 error")
              | low.contains("no longer available"))
    n_tokens = F.size(F.split(F.trim(body), r"\s+"))
    stub = n_tokens < 20
    return d.select(
        "doc_id",
        phrase.alias("has_soft404_phrase"),
        stub.alias("is_stub"),
        (phrase | stub).alias("soft404"),
        n_tokens.alias("n_tokens"),
    )


ORACLE_SOFT404 = """
WITH b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 41 = 0
                THEN 'Oops — Page Not Found. ' || text
              WHEN doc_id % 43 = 0 THEN text || ' [404 Error]'
              WHEN doc_id % 47 = 0
                THEN 'This content is no longer available.'
              ELSE text END AS body
  FROM documents),
f AS (
  SELECT doc_id,
         (contains(lower(body), 'page not found')
          OR contains(lower(body), '404 error')
          OR contains(lower(body), 'no longer available'))
             AS has_soft404_phrase,
         CAST(len(string_split_regex(trim(body), '\\s+')) AS INT)
             AS n_tokens
  FROM b)
SELECT doc_id, has_soft404_phrase,
       n_tokens < 20 AS is_stub,
       has_soft404_phrase OR n_tokens < 20 AS soft404,
       n_tokens
FROM f
"""
