"""Physical-plan shape tests (SURVEY.md §4.2): pushdown, pruning, and join
strategy must actually reach the scan — not just produce correct rows."""

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from goose_spark import job as J
from goose_spark import queries as Q

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # same as explain("formatted")
        df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_and_column_pruning(spark):
    """The resume shape's build side: the date filter reaches the orders
    scan, and only the two columns the anti-join needs are read."""
    plan = _plan(Q.q_anti_join(spark, SF))
    orders = next(sec for sec in plan.split("\n\n")
                  if "orders.parquet" in sec)
    pushed = orders.split("PushedFilters")[1].splitlines()[0]
    assert "GreaterThanOrEqual(o_orderdate" in pushed
    read_schema = orders.split("ReadSchema")[1]
    assert "o_custkey" in read_schema and "o_orderdate" in read_schema
    # unprojected columns must not be read
    assert "o_comment" not in read_schema
    assert "o_totalprice" not in read_schema


def test_anti_join_is_broadcast_when_small(spark):
    plan = _plan(Q.q_anti_join(spark, SF))
    assert "LeftAnti" in plan


def test_extraction_scan_prunes_text_column(spark, sf0001_fixtures):
    """The fat CC-provided `text` column must never be read by the
    extraction plan (html is needed; text is not)."""
    pages_path, _ = sf0001_fixtures
    pages = J.read_pages(spark, pages_path)
    df = J.extract(J.prepare(pages, partitions=4))
    plan = _plan(df)
    scan = plan.split("ReadSchema")[1][:500]
    assert "html" in scan
    assert "text" not in scan.replace("cleaned_text", "")


def test_extraction_plan_has_single_python_stage(spark, sf0001_fixtures):
    """One mapInPandas evaluation — no accidental extra Python round-trips."""
    pages_path, _ = sf0001_fixtures
    pages = J.read_pages(spark, pages_path)
    df = J.extract(J.prepare(pages, partitions=4))
    plan = _plan(df)
    tree = plan.split("\n\n")[0]  # the tree section (details repeat names)
    assert tree.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python UDF


def test_hash_agg_partial_final(spark):
    """Aggregation must be partial+final (map-side combine before shuffle)."""
    plan = _plan(Q.q_hash_agg(spark, SF))
    assert plan.count("HashAggregate") >= 2


def test_simhash_pairs_single_udf_pass(spark):
    """The fingerprint UDF must run in ONE pass (a band self-join would
    re-evaluate it per side); pair generation is in-bucket, JVM-side."""
    from goose_spark import textops as T

    plan = _plan(T.q_simhash_pairs(spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_near_dup_pairs_have_no_band_or_cluster_join(spark):
    """Pairs come from the bounded bucket_pairs kernel, never from an
    unguarded self-join on a MinHash band or a SemDeDup cluster: no join
    in these plans is keyed by band_hash or centroid_id."""
    from goose_spark import ann as A
    from goose_spark import textops as T

    for q in (T.q_minhash_pairs, T.q_minhash_est_vs_exact, A.q_semdedup):
        keys = [ln for ln in _plan(q(spark, SF)).splitlines()
                if " keys [" in ln]
        assert keys, q.__name__  # the id rejoins are still there
        assert not [ln for ln in keys
                    if "band_hash" in ln or "centroid_id" in ln], q.__name__


def test_ann_lsh_probe_is_pure_expressions(spark):
    """Bucket filter + cosine top-k: no Python at all, top-k as
    TakeOrderedAndProject (no global sort materialization)."""
    from goose_spark import ann as A

    plan = _plan(A.q_ann_lsh_probe(spark, SF))
    assert "EvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ann_ivf_probe_broadcasts_centroids(spark):
    from goose_spark import ann as A

    plan = _plan(A.q_ann_ivf_probe(spark, SF))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_url_normalize_codegen(spark):
    from goose_spark import textops as T

    plan = _plan(T.q_url_normalize(spark, SF))
    tree = plan.split("\n\n")[0]
    assert "EvalPython" not in plan
    assert "* Project" in tree  # regex chain rides whole-stage codegen
    assert "Exchange" not in tree  # embarrassingly parallel: zero shuffles


def test_pii_redact_codegen_no_shuffle(spark):
    from goose_spark import filterops as FL

    plan = _plan(FL.q_pii_redact(spark, SF))
    tree = plan.split("\n\n")[0]
    assert "EvalPython" not in plan      # regex chain is all JVM
    assert "Exchange" not in tree        # scan → project, zero shuffles
    assert "* Project" in tree           # whole-stage codegen
    # only the columns the op needs reach the scan
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "n_chars" not in read_schema


def test_repetition_filter_partial_aggs(spark):
    from goose_spark import filterops as FL

    plan = _plan(FL.q_repetition_filter(spark, SF))
    assert "EvalPython" not in plan
    # distributed-wordcount shape: map-side combine before every shuffle
    assert plan.count("partial_count") + plan.count("partial_sum") >= 2
    assert "HashAggregate" in plan


def test_warc_extract_single_python_stage(spark):
    from goose_spark import warcops as W

    plan = _plan(W.q_warc_extract(spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in tree        # linear chain, zero shuffles


@contextmanager
def _no_broadcast(spark):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _shuffles_before_udf(df) -> list[str]:
    """Non-broadcast Exchange lines of `df`'s plan tree (everything in
    an extract() plan sits below its MapInPandas)."""
    tree = _plan(df).split("\n\n")[0]
    assert "MapInPandas" in tree
    return [ln for ln in tree.splitlines()
            if "Exchange" in ln and "BroadcastExchange" not in ln]


def test_flagship_shuffles_html_once(spark, sf0001_fixtures):
    """The unbucketed flagship path (partition by url → dedupe → resume
    → extract) shuffles the html exactly once: the url partitioning
    before the dedupe serves the window, the broadcast anti-join and the
    UDF stage, so nothing re-partitions after the dedupe."""
    import datetime

    pages_path, _ = sf0001_fixtures
    ckpt = spark.createDataFrame(
        [("r0", "https://u/1", datetime.datetime(2025, 1, 1))],
        "run_id string, url string, completed_ts timestamp")
    out = J.extract(J.prepare(J.read_pages(spark, pages_path), ckpt))
    exchanges = _shuffles_before_udf(out)
    assert len(exchanges) == 1, exchanges


def _one_url_checkpoint(spark):
    import datetime

    return spark.createDataFrame(
        [("r0", "https://u/1", datetime.datetime(2025, 1, 1))],
        "run_id string, url string, completed_ts timestamp")


def test_broadcast_resume_drops_urls_before_the_shuffle(spark,
                                                        sf0001_fixtures):
    """With a small checkpoint the broadcast anti-join runs on the scan:
    the LeftAnti join sits below the url Exchange, so completed urls'
    html is never shuffled or sorted."""
    pages_path, _ = sf0001_fixtures
    out = J.extract(J.prepare(J.read_pages(spark, pages_path),
                              _one_url_checkpoint(spark)))
    tree = _plan(out).split("\n\n")[0].splitlines()
    anti = [i for i, ln in enumerate(tree) if "LeftAnti" in ln]
    shuffle = [i for i, ln in enumerate(tree)
               if "Exchange" in ln and "BroadcastExchange" not in ln]
    assert len(anti) == 1 and len(shuffle) == 1, tree
    # the formatted tree lists children after their parent
    assert anti[0] > shuffle[0], tree


def test_unbroadcast_resume_shuffles_html_once(spark, sf0001_fixtures):
    """Past the broadcast cap the anti-join is a sort-merge join after the
    url shuffle and reuses its partitioning: only the checkpoint's urls
    shuffle for it, and the html shuffles once."""
    pages_path, _ = sf0001_fixtures
    with _no_broadcast(spark):
        out = J.extract(J.prepare(J.read_pages(spark, pages_path),
                                  _one_url_checkpoint(spark),
                                  broadcast=False))
        sections = _plan(out).split("\n\n")
    assert "SortMergeJoin LeftAnti" in sections[0]
    # a details section: "(n) Exchange", then its "Input [...]" columns
    details = [sec.strip().splitlines() for sec in sections[1:]
               if sec.strip()]
    html_shuffles = [d for d in details
                     if d[0].endswith(") Exchange") and "html#" in d[1]]
    assert len(html_shuffles) == 1, html_shuffles


def test_decontaminate_broadcasts_eval_set(spark):
    """The exploded train-side n-grams must join the eval set as a
    broadcast — shuffling the exploded rows would be the 100 TB
    bottleneck."""
    from goose_spark import filterops as FL

    plan = _plan(FL.q_decontaminate(spark, SF))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_decontaminate_hashed_preserves_broadcast(spark):
    """The n-grams are xxhash64-keyed to 8 bytes before the join, and the
    hashed keys keep the broadcast shape: no SortMergeJoin anywhere, and
    the only shuffles are the two partial aggregations (distinct eval
    keys, per-doc hit counts) — the exploded rows never shuffle."""
    from goose_spark import filterops as FL

    plan = _plan(FL.q_decontaminate(spark, SF))
    tree = plan.split("\n\n")[0]
    assert "xxhash64" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin Inner BuildRight" in tree
    assert sum(1 for ln in tree.splitlines()
               if "Exchange" in ln and "BroadcastExchange" not in ln) == 2


def test_domain_cap_precap_zero_shuffle_combiner(spark):
    """precap_domains is a map-side combiner: ONE MapInPandas, ZERO
    exchanges; q_domain_cap_kept adds exactly one domain-keyed exchange
    for the final window over the bounded survivor set."""
    from goose_spark import filterops as FL
    from goose_spark.queries import load

    d = load(spark, SF, "documents")
    dom = F.expr(FL._DOMAIN_SYNTH_T.format(S="STRING"))
    pre = FL.precap_domains(
        d.select("doc_id", "n_chars", dom.alias("domain")), FL.DOMAIN_CAP)
    tree = _plan(pre).split("\n\n")[0]
    assert tree.count("Exchange") == 0
    assert tree.count("MapInPandas") == 1

    full = _plan(FL.q_domain_cap_kept(spark, SF)).split("\n\n")[0]
    assert full.count("Exchange") == 1
    assert full.count("MapInPandas") == 1
    assert "Window" in full


def test_tfidf_all_codegen_no_text_after_tokenize(spark):
    """TF-IDF is pure built-ins (no Python eval), and the wide text
    column is projected away before any exchange — only (doc_id, term)
    rows shuffle."""
    from goose_spark import textops as T

    plan = _plan(T.q_tfidf_top_terms(spark, SF))
    assert "EvalPython" not in plan
    # every Exchange carries tokenized rows, never the text column
    for seg in plan.split("Exchange")[1:]:
        assert "text#" not in seg[:120]


def test_length_quantiles_window_reads_histogram(spark):
    """The quantile window must consume the (lang, n_chars) histogram
    aggregate, not raw rows — a raw per-lang window is skew-bound at
    10^12 docs. Plan order: partial+final HashAggregate BEFORE the
    Window node, and no Python eval anywhere."""
    from goose_spark import textops as T

    plan = _plan(T.q_length_quantiles(spark, SF))
    assert "EvalPython" not in plan
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    agg_idx = [i for i, l in enumerate(lines) if "HashAggregate" in l]
    win_idx = [i for i, l in enumerate(lines) if "Window" in l]
    assert agg_idx and win_idx
    # formatted tree lists leaves last: the histogram aggregate appears
    # BELOW (after) the window that consumes it
    assert max(agg_idx) > min(win_idx)


def test_substring_dedup_plan_shape(spark):
    from goose_spark import textops as T

    plan = _plan(T.q_substring_dedup(spark, SF))
    tree = plan.split("\n\n")[0]
    assert "EvalPython" not in plan          # window hashing is all JVM
    # ONE corpus-sized hash aggregate on the md5 key, partial+final
    assert tree.count("HashAggregate") >= 2  # map-side combine present
    # the dup-key join must be a shuffle join on gh (AQE can skew-split
    # a hot boilerplate key), never a nested-loop
    assert "SortMergeJoin" in tree or "ShuffledHashJoin" in tree \
        or "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree
    # interval merge is a doc-keyed window over int pairs
    assert "Window" in tree
    # only the two needed columns reach the scan
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "n_chars" not in read_schema


def test_corpus_funnel_single_pass(spark):
    """The funnel must stay ONE aggregate over flag joins — a per-stage
    union of count branches re-executes every upstream gate's DAG
    (review finding, late r4)."""
    from goose_spark import filterops as FL

    plan = _plan(FL.q_corpus_funnel(spark, SF))
    tree = plan.split("\n\n")[0]
    assert "Union" not in tree          # no per-stage count branches
    assert "Generate" in tree           # the stack() unpivot
    # each gate's scan appears once per gate, not once per stage:
    # documents is read by base + 5 gates = bounded, never 6 * stages
    assert tree.count("Scan parquet") <= 12


def test_host_stats_one_source_agg(spark):
    from goose_spark import corpusops as CO

    plan = _plan(CO.q_host_stats(spark, SF))
    tree = plan.split("\n\n")[0]
    assert "EvalPython" not in plan
    # countDistinct expands to a two-phase agg; beyond that the plan
    # must stay hash aggregates + the md5-count join, no nested loops
    assert "CartesianProduct" not in tree
    assert "HashAggregate" in tree


def test_ccnet_buckets_histogram_then_broadcast(spark):
    """Tercile thresholds must come from the (lang, score) histogram
    (HashAggregate before the Window) and rejoin the corpus by
    BROADCAST — a shuffle join on lang re-keys the whole corpus on the
    skewed language key; all codegen, no Python eval."""
    from goose_spark import filterops as FL

    plan = _plan(FL.q_ccnet_buckets(spark, SF))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    agg_idx = [i for i, l in enumerate(lines) if "HashAggregate" in l]
    win_idx = [i for i, l in enumerate(lines) if "Window" in l]
    assert agg_idx and win_idx
    assert max(agg_idx) > min(win_idx)


def test_cdx_index_digest_keyed_join_no_payload_shuffle(spark):
    """Revisit detection shuffles the 16-byte digest key, never the
    payload: no plan column list may carry `text` past the first
    projection into an Exchange; all codegen."""
    from goose_spark import corpusops as CO

    plan = _plan(CO.q_cdx_index(spark, SF))
    assert "EvalPython" not in plan
    tree = plan.split("\n\n")[0]
    ex_lines = [l for l in tree.splitlines() if "Exchange" in l]
    assert ex_lines, "expected the digest aggregate exchange"
    # the details section lists each Exchange's partitioning key
    for seg in plan.split("Exchange")[1:]:
        head = seg[:200]
        assert "text#" not in head


def test_unigram_lm_vocab_topv_and_broadcast(spark):
    """The top-V vocab cut must be TakeOrderedAndProject (never a
    global-window sort over the vocabulary) and the score join must
    broadcast the V-row vocab; per-doc re-agg stays a HashAggregate."""
    from goose_spark import filterops as FL

    plan = _plan(FL.q_unigram_lm_score(spark, SF))
    assert "EvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan.split("\n\n")[0]


def test_soft404_codegen_no_shuffle_and_live_arms(spark):
    from pyspark.sql import functions as F

    from goose_spark import filterops as FL

    df = FL.q_soft404(spark, SF)
    plan = _plan(df)
    tree = plan.split("\n\n")[0]
    assert "EvalPython" not in plan      # contains/split are all JVM
    assert "Exchange" not in tree        # scan → project, zero shuffles
    assert "* Project" in tree           # whole-stage codegen
    # every decoration arm is live at sf0.01 AND the classifier fires
    # on each phrase class (else the probe gates nothing)
    agg = df.agg(
        F.sum(F.when(F.col("has_soft404_phrase"), 1).otherwise(0)),
        F.sum(F.when(F.col("is_stub"), 1).otherwise(0)),
        F.sum(F.when(~F.col("soft404"), 1).otherwise(0)),
    ).collect()[0]
    assert agg[0] > 0 and agg[1] > 0 and agg[2] > 0
