"""Text-analysis + deduplication specs (BASELINE LLM-pipeline mandate).

Derivation: the reference's data lake feeds text-bearing tables (user
maps, mailgun events); the training-data generalization is corpus-level
text analytics — term stats, quality scores, language ID, and the
exact→fingerprint→Jaccard→MinHash-LSH dedup ladder from
``operators/dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from odl_etl_spark.functions import text as T
from odl_etl_spark.functions.numeric import roundn
from odl_etl_spark.io.sources import load_table, spread
from odl_etl_spark.operators import dedup as D
from odl_etl_spark.queries.base import spec

_TOKS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"


@spec(
    "text_tokenize_tf",
    f"""
    WITH toks AS (SELECT UNNEST({_TOKS_SQL}) AS term FROM documents)
    SELECT term, COUNT(*) AS tf FROM toks GROUP BY term
    ORDER BY tf DESC, term ASC LIMIT 20
    """,
    doc="Tokenize → explode → term frequency; the 1-row→N-rows UDTF shape.",
)
def text_tokenize_tf(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(T.tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("term").asc())
        .limit(20)
    )


@spec(
    "text_lang_stats",
    """
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(AVG(n_chars) * 100) / 100 AS avg_chars,
           COUNT(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
    doc="Per-language corpus composition stats.",
)
def text_lang_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        roundn(F.avg("n_chars"), 2).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


@spec(
    "text_token_count",
    f"""
    SELECT doc_id,
           len({_TOKS_SQL}) AS n_tokens,
           len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_runs,
           ROUND((SELECT SUM(length(t)) FROM UNNEST({_TOKS_SQL}) u(t)) * 1.0
                 / GREATEST(len({_TOKS_SQL}), 1) * 10000) / 10000 AS mean_tok_len
    FROM documents
    """,
    doc="Whitespace token count, regex token count, mean token length.",
)
def text_token_count(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[a-z]+")).alias("n_alpha_runs"),
        roundn(T.mean_token_len("text"), 4).alias("mean_tok_len"),
    )


@spec(
    "text_quality",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks, text FROM documents
    ), m AS (
      SELECT doc_id,
             LEAST(len(toks) / 50.0, 1.0) AS length_term,
             LEAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of'))) * 1.0
                   / GREATEST(len(toks), 1) * 5.0, 1.0) AS stop_term,
             LEAST((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                   * 1.0 / GREATEST(length(text), 1) * 5.0, 1.0) AS punct_term
      FROM t
    )
    SELECT doc_id,
           ROUND(GREATEST(LEAST(0.5 * length_term + 0.5 * stop_term
                                - 0.25 * punct_term, 1.0), 0.0) * 10000) / 10000
             AS q_score
    FROM m
    """,
    doc="Heuristic quality score: length sweet-spot + stopwords - punctuation.",
)
def text_quality(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", roundn(T.quality_score("text"), 4).alias("q_score"))


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.LANG_PROFILES[lang])
    return f"len(list_filter({_TOKS_SQL}, x -> x IN ({words})))"


@spec(
    "text_langid",
    f"""
    WITH s AS (
      SELECT doc_id,
             {_lang_hits_sql('de')} AS s_de, {_lang_hits_sql('en')} AS s_en,
             {_lang_hits_sql('es')} AS s_es, {_lang_hits_sql('fr')} AS s_fr,
             {_lang_hits_sql('zh')} AS s_zh
      FROM documents
    )
    SELECT doc_id, CASE
      WHEN GREATEST(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
      WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
      WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
      WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
      WHEN s_fr = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
      ELSE 'zh' END AS pred_lang
    FROM s
    """,
    doc=(
        "Stopword-profile language ID (argmax hits, alphabetical tie-break, "
        "'und' when no hits). Heuristic n-gram scorer per SURVEY mandate; a "
        "model-based classifier would slot in as a pandas UDF with the same "
        "plumbing."
    ),
)
def text_langid(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", T.predicted_lang("text").alias("pred_lang"))


@spec(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           sha256(array_to_string(list_sort({_TOKS_SQL}), ' ')) AS fingerprint
    FROM documents
    """,
    doc="Order-insensitive content fingerprint (sha256 of sorted token bag).",
)
def text_fingerprint(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    from odl_etl_spark.functions.hashing import content_fingerprint

    return d.select("doc_id", content_fingerprint("text").alias("fingerprint"))


@spec(
    "dedup_exact",
    """
    SELECT sha256(text) AS content_sha, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM documents GROUP BY sha256(text)
    """,
    doc="Exact content dedup: hash-groupBy on sha256(text) (A2+B).",
)
def dedup_exact(spark, sf_dir):
    return D.exact_dedup(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@spec(
    "dedup_fingerprint",
    f"""
    SELECT sha256(array_to_string(list_sort({_TOKS_SQL}), ' ')) AS fingerprint,
           COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM documents GROUP BY 1
    """,
    doc="Bag-of-words dedup: catches reordered/case-variant duplicates.",
)
def dedup_fingerprint(spark, sf_dir):
    return D.fingerprint_dedup(load_table(spark, sf_dir, "documents"), "doc_id", "text")


def _jaccard_oracle(max_df: int | None = None, threshold: float = 0.8) -> str:
    """All-pairs 3-gram Jaccard ground truth; optionally mirrors the
    operator's stop-shingle bound (drop shingles with document frequency
    > max_df) so the filtered variants stay differentially checkable."""
    df_filter = (
        f""", hot AS (
      SELECT s FROM sh GROUP BY s HAVING COUNT(*) > {max_df}
    ), shf AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot))"""
        if max_df is not None
        else ", shf AS (SELECT * FROM sh)"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
    ), idx AS (
      SELECT doc_id, ts, UNNEST(range(1, GREATEST(len(ts) - 1, 1))) AS i FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS s
      FROM idx WHERE i + 2 <= len(ts)
    ){df_filter}, cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(COUNT(*) * 1.0 / (MIN(ca.n) + MIN(cb.n) - COUNT(*)) * 10000) / 10000
             AS jaccard
    FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
    JOIN cnt ca ON ca.doc_id = a.doc_id
    JOIN cnt cb ON cb.doc_id = b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) * 1.0 / (MIN(ca.n) + MIN(cb.n) - COUNT(*)) >= {threshold}
"""


_JACCARD_ORACLE = _jaccard_oracle()


_JACCARD_MAX_DF = 5


@spec(
    "dedup_ngram_jaccard",
    _jaccard_oracle(max_df=_JACCARD_MAX_DF),
    doc=(
        "Exact 3-gram-shingle Jaccard near-dup pairs (threshold 0.8) via "
        "inverted-index self-join — the ground-truth near-dedup. The "
        "max_df stop-shingle bound is ACTIVE (df > 5 shingles dropped, "
        "mirrored in the oracle's document-frequency CTE): without it a "
        "ubiquitous shingle makes the postings self-join quadratic at "
        "scale; with it the hottest key is capped at max_df postings."
    ),
)
def dedup_ngram_jaccard(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.8, max_df=_JACCARD_MAX_DF
    )
    return pairs.select(
        "id_a", "id_b", roundn(F.col("jaccard"), 4).alias("jaccard")
    )


@spec(
    "dedup_near",
    _JACCARD_ORACLE,
    doc=(
        "MinHash (32 hashes) + banded LSH (8 bands × 4) candidates, "
        "verified with exact Jaccard ≥ 0.8. Oracled against the exact "
        "all-pairs SQL: at j≥0.8 the LSH miss probability is (1-j^4)^8 "
        "< 1e-6, and verification makes precision exact, so the outputs "
        "coincide; the LSH path costs O(N·32) instead of all-pairs."
    ),
)
def dedup_near(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(d, "doc_id", "text", n=3, threshold=0.8)
    return pairs.select(
        "id_a", "id_b", roundn(F.col("jaccard"), 4).alias("jaccard")
    )


_INCR_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS_SQL} AS ts FROM documents
    ), idx AS (
      SELECT doc_id, source, ts,
             UNNEST(range(1, GREATEST(len(ts) - 1, 1))) AS i FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, source,
             ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS s
      FROM idx WHERE i + 2 <= len(ts)
    ), cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
    SELECT a.doc_id AS new_id, b.doc_id AS ex_id,
           ROUND(COUNT(*) * 1.0 / (MIN(ca.n) + MIN(cb.n) - COUNT(*)) * 10000)
             / 10000 AS jaccard
    FROM sh a JOIN sh b ON a.s = b.s AND a.source = 'src1' AND b.source <> 'src1'
    JOIN cnt ca ON ca.doc_id = a.doc_id
    JOIN cnt cb ON cb.doc_id = b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) * 1.0 / (MIN(ca.n) + MIN(cb.n) - COUNT(*)) >= 0.8
"""


@spec(
    "dedup_incremental",
    _INCR_ORACLE,
    doc=(
        "Incremental near-dedup: the day's NEW batch (source='src1') "
        "probed against the EXISTING corpus (every other source) — the "
        "operational posture the reference's daily cadence implies "
        "(mitx_etl.py:16-17 date-suffixed batches) applied to the LLM "
        "dedup tier. Same MinHash-LSH family as dedup_near, but the "
        "candidate join is batch x index instead of a corpus self-join: "
        "the existing side's (id, band, hash) tuples are a persistable "
        "index built once, and per-day cost scales with the batch, not "
        "the corpus. Oracled against the exact cross-set Jaccard SQL "
        "(recall argument identical to dedup_near: miss probability "
        "< 1e-6 at j>=0.8, precision exact by verification)."
    ),
)
def dedup_incremental(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_probe(
        d.where(F.col("source") == "src1"),
        d.where(F.col("source") != "src1"),
        "doc_id",
        "text",
        n=3,
        threshold=0.8,
    )
    return pairs.select(
        "new_id", "ex_id", roundn(F.col("jaccard"), 4).alias("jaccard")
    )


def _simhash_oracle(max_hamming: int) -> str:
    """All-pairs SimHash-64 ground truth with md5-derived per-token bits.

    Mirrors ``operators.dedup.simhash_signatures(token_hash="md5")``
    literally: per token, the 64-bit hash is the first 16 hex nibbles of
    md5(token); bit b = (nibble[b//4] >> (3-b%4)) & 1; each signature bit
    is the sign of the per-bit ±1 vote sum; the signature packs vote i
    into weight 2^i (i=63 → the BIGINT sign bit). Both engines compute
    bit-identical signatures, so hamming distances — and the pair set —
    coincide exactly.
    """
    nib = "(strpos('0123456789abcdef', substring(m, {j}, 1)) - 1)"
    nibs = ",\n             ".join(
        f"{nib.format(j=j + 1)} AS n{j}" for j in range(16)
    )
    votes = ",\n             ".join(
        f"SUM(2 * ((n{b // 4} >> {3 - b % 4}) & 1) - 1) AS v{b}"
        for b in range(64)
    )
    weights = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {(1 << i) if i < 63 else '-9223372036854775807 - 1'} ELSE 0 END)"
        for i in range(64)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, UNNEST({_TOKS_SQL}) AS t FROM documents
    ), h AS (SELECT doc_id, md5(t) AS m FROM toks),
    nb AS (SELECT doc_id,
             {nibs}
           FROM h),
    v AS (SELECT doc_id,
             {votes}
          FROM nb GROUP BY doc_id),
    s AS (SELECT doc_id, CAST({weights} AS BIGINT) AS sig FROM v)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
"""


@spec(
    "dedup_simhash",
    _simhash_oracle(max_hamming=3),
    doc=(
        "SimHash-64 near-dup pairs, md5-derived token hashes (cross-engine "
        "computable), 16-bit chunk blocking, hamming ≤ 3. At ≤ 3 differing "
        "bits a pair must agree on at least one of the 4 chunks "
        "(pigeonhole), so the blocked result EQUALS the all-pairs oracle — "
        "recall is exact, not probabilistic."
    ),
)
def dedup_simhash(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(d, "doc_id", "text", max_hamming=3, token_hash="md5")


@spec(
    "text_ngrams",
    f"""
    WITH toks AS (SELECT {_TOKS_SQL} AS ts FROM documents),
    idx AS (SELECT ts, UNNEST(range(1, len(ts))) AS i FROM toks),
    bg AS (SELECT ts[i] || ' ' || ts[i + 1] AS gram FROM idx)
    SELECT gram, COUNT(*) AS cnt FROM bg GROUP BY gram
    ORDER BY cnt DESC, gram ASC LIMIT 15
    """,
    doc="Top bigrams by frequency (multiset n-grams, not distinct shingles).",
)
def text_ngrams(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"))
    return (
        d.select(F.explode(T.word_ngrams("text", 2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("gram").asc())
        .limit(15)
    )


# Shared by dedup_cluster and dedup_cluster_incremental (queries/compose.py):
# incremental ≡ rebuild is the incremental key's correctness claim, so both
# Spark paths are checked against this one full-closure oracle.
_CLUSTER_ORACLE_SQL = f"""
    WITH RECURSIVE base AS ({_jaccard_oracle(max_df=_JACCARD_MAX_DF, threshold=0.5)}),
    sym AS (
      SELECT id_a AS u, id_b AS v FROM base
      UNION ALL SELECT id_b, id_a FROM base
    ), reach (n, m) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.m FROM reach r JOIN sym e ON e.u = r.n
    )
    SELECT n AS doc_id, MIN(m) AS cluster_id,
           CAST(CASE WHEN MIN(m) = n THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM reach GROUP BY n
    """


@spec(
    "dedup_cluster",
    _CLUSTER_ORACLE_SQL,
    doc=(
        "Near-dup cluster assignment — the keep-one step that completes "
        "the dedup ladder. Edges = exact 3-gram Jaccard >= 0.5 pairs "
        "(stop-shingle bound active); components via "
        "operators/components.connected_components: an edge table under "
        "the broadcast threshold (this one) is fetched in one job and "
        "closed by a min-root union-find on the driver, returned as an "
        "Arrow LocalRelation; a larger one runs diameter-many rounds of "
        "join + groupBy-min with a per-round lineage cut. The fixture "
        "graph includes a 3-node component, so transitive closure is "
        "exercised, not just pair mirroring. Oracle = DuckDB recursive "
        "CTE over the same edge SQL. cluster_id = min doc_id reachable; "
        "keep = 1 on the representative (singletons keep themselves)."
    ),
)
def dedup_cluster(spark, sf_dir):
    from odl_etl_spark.operators.components import connected_components

    d = load_table(spark, sf_dir, "documents")
    edges = D.jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_df=_JACCARD_MAX_DF
    ).select("id_a", "id_b")
    comp = connected_components(edges, "id_a", "id_b")
    return (
        d.select("doc_id")
        .join(comp, d["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
            (F.coalesce("component", "doc_id") == F.col("doc_id"))
            .cast("int")
            .alias("keep"),
        )
    )


@spec(
    "text_tfidf",
    f"""
    WITH tf AS (
      SELECT doc_id, t AS term, COUNT(*) AS tf
      FROM (SELECT doc_id, UNNEST({_TOKS_SQL}) AS t FROM documents)
      GROUP BY doc_id, t
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term,
           ROUND(tf.tf * LN(n.n_docs * 1.0 / dfreq.df) * 10000) / 10000
             AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ORDER BY tfidf DESC, doc_id ASC, term ASC LIMIT 25
    """,
    doc=(
        "tf-idf scoring: per-doc term frequency x ln(N/df), top 25 "
        "terms. Two hash aggregations; the document-frequency table is "
        "vocabulary-sized and broadcast into the final join, so the big "
        "(doc, term) side never re-shuffles — at 100 TB the vocabulary "
        "still fits the 64 MB broadcast budget after a min-df cut."
    ),
)
def text_tfidf(spark, sf_dir):
    from odl_etl_spark.operators.materialize import materialize

    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()  # O(1) driver scalar, folded into the expression
    # The postings table feeds both the document-frequency agg and the
    # scoring join; materialize it so the corpus is tokenized ONCE per
    # run instead of once per reference (r17 — same restructure as
    # text_bm25; the postings are the inverted index's stored artifact).
    tf = materialize(
        spread(d)
        .select("doc_id", F.explode(T.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .select(
            "doc_id",
            "term",
            roundn(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4
            ).alias("tfidf"),
        )
        .orderBy(F.col("tfidf").desc(), F.col("doc_id").asc(), F.col("term").asc())
        .limit(25)
    )


def _winnow_oracle(k: int = 3, w: int = 4) -> str:
    """Literal SQL replica of ``operators.dedup.winnow_fingerprints``:
    same md5-derived 60-bit k-gram hashes (15 hex nibbles as exact
    integer arithmetic), same full-window + position-0 selection rule,
    so both engines produce identical fingerprint sets."""
    h60 = " + ".join(
        f"(strpos('0123456789abcdef', substring(m, {j + 1}, 1)) - 1) * {16 ** (14 - j)}"
        for j in range(15)
    )
    gram = " || ' ' || ".join(f"ts[i + {j}]" for j in range(k))
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
    ), kgm AS (
      SELECT doc_id, i - 1 AS pos, md5({gram}) AS m
      FROM toks, UNNEST(range(1, GREATEST(len(ts) - {k - 2}, 1))) u(i)
      WHERE i + {k - 1} <= len(ts)
    ), kg AS (
      SELECT doc_id, pos, CAST({h60} AS BIGINT) AS h FROM kgm
    ), win AS (
      SELECT doc_id, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp,
             COUNT(*) OVER (PARTITION BY doc_id) AS m
      FROM kg
    ), sel AS (
      SELECT DISTINCT doc_id, fp FROM win WHERE pos <= m - {w} OR pos = 0
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps,
           CAST(bit_xor(fp) AS BIGINT) AS fp_xor, MIN(fp) AS fp_min
    FROM sel GROUP BY doc_id
"""


@spec(
    "text_winnow_fp",
    _winnow_oracle(k=3, w=4),
    doc=(
        "Winnowing rolling-hash fingerprints (Schleimer et al., SIGMOD "
        "2003): k-gram hashes, sliding-window minima, distinct per doc — "
        "any shared token run of >= w+k-1 tokens between two documents "
        "shares a fingerprint (the substring-level dedup/plagiarism "
        "primitive; the bag-of-words sha256 key catches reordering, this "
        "catches excerpts). md5-derived 60-bit hashes make the whole "
        "pipeline hash-checkable cross-engine. Emitted per doc as "
        "(count, xor, min) of the fingerprint set."
    ),
)
def text_winnow_fp(spark, sf_dir):
    fps = D.winnow_fingerprints(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", k=3, w=4
    )
    return fps.groupBy(F.col("_id").alias("doc_id")).agg(
        F.count("*").alias("n_fps"),
        F.expr("bit_xor(_fp)").alias("fp_xor"),
        F.min("_fp").alias("fp_min"),
    )


@spec(
    "text_pack_sequences",
    f"""
    WITH n AS (
      SELECT doc_id, len({_TOKS_SQL}) AS n_tokens FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM n
    )
    SELECT CAST(cum_before // 512 AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM c GROUP BY 1
    """,
    doc=(
        "Greedy sequence packing for LLM training: documents in a "
        "deterministic order are packed contiguously into 512-token "
        "context windows (a doc belongs to the pack its running offset "
        "starts in). The global exclusive prefix sum is distributed via "
        "operators/ranking.py:global_cumsum — range shuffle, "
        "per-partition running sums, an O(#partitions)-row offset table "
        "broadcast back — NO unpartitioned window over the input "
        "(win_ntile's pattern generalized to prefix aggregates)."
    ),
)
def text_pack_sequences(spark, sf_dir):
    from odl_etl_spark.operators.ranking import global_cumsum

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.token_count("text").alias("n_tokens")
    )
    c = global_cumsum(d, ["doc_id"], "n_tokens")
    return (
        c.withColumn("pack_id", (F.col("cum_before") / 512).cast("bigint"))
        .groupBy("pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@spec(
    "corpus_filter",
    f"""
    WITH q AS (
      SELECT doc_id, lang, len({_TOKS_SQL}) AS n_tokens,
             ROUND(GREATEST(LEAST(
               0.5 * LEAST(len({_TOKS_SQL}) / 50.0, 1.0)
               + 0.5 * LEAST(len(list_filter({_TOKS_SQL},
                     x -> x IN ('the', 'a', 'of'))) * 1.0
                   / GREATEST(len({_TOKS_SQL}), 1) * 5.0, 1.0)
               - 0.25 * LEAST((length(text) - length(regexp_replace(text,
                     '[^\\w\\s]', '', 'g'))) * 1.0
                   / GREATEST(length(text), 1) * 5.0, 1.0),
               1.0), 0.0) * 10000) / 10000 AS q_score
      FROM documents
    ), keep AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
    )
    SELECT q.doc_id, q.lang, q.n_tokens, q.q_score,
           CAST(q.doc_id IN (SELECT doc_id FROM keep) AS INTEGER)
             AS dedup_keep,
           CAST(q.n_tokens >= 5 AND q.q_score >= 0.3
                AND q.doc_id IN (SELECT doc_id FROM keep) AS INTEGER)
             AS kept
    FROM q
    """,
    doc=(
        "The composed corpus-cleaning pass (C4/Gopher-style): minimum "
        "length, quality-score threshold, and exact-dedup keep-one, "
        "emitted as per-rule audit flags plus the final verdict — the "
        "query a training-data user actually ships. One scan computes "
        "every expression-level rule; the dedup membership is a "
        "left-semi join against the hash-agg representative set (no "
        "second scan of text at the join, only the 8-byte ids shuffle)."
    ),
)
def corpus_filter(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    keep = (
        d.groupBy(F.sha2(F.col("text"), 256))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    q = spread(d).select(
        "doc_id",
        "lang",
        T.token_count("text").alias("n_tokens"),
        roundn(T.quality_score("text"), 4).alias("q_score"),
    )
    flagged = q.join(
        keep.withColumn("_k", F.lit(1)), "doc_id", "left"
    ).withColumn("dedup_keep", F.coalesce("_k", F.lit(0)))
    return flagged.select(
        "doc_id",
        "lang",
        "n_tokens",
        "q_score",
        "dedup_keep",
        (
            (F.col("n_tokens") >= 5)
            & (F.col("q_score") >= 0.3)
            & (F.col("dedup_keep") == 1)
        )
        .cast("int")
        .alias("kept"),
    )


# Per-language sampling rates out of 100 (corpus rebalancing).
_SAMPLE_RATES = {"en": 35, "de": 60, "es": 60, "fr": 60, "zh": 90}


@spec(
    "sample_stratified",
    f"""
    WITH h AS (
      SELECT doc_id, lang,
             (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
               AS hb
      FROM documents
    )
    SELECT doc_id, lang FROM h
    WHERE hb % 100 < CASE lang
      WHEN 'en' THEN 35 WHEN 'de' THEN 60 WHEN 'es' THEN 60
      WHEN 'fr' THEN 60 WHEN 'zh' THEN 90 ELSE 0 END
    """,
    doc=(
        "Deterministic stratified sampling (corpus rebalancing by "
        "language): keep a row iff md5(doc_id)'s first byte mod 100 "
        "falls under the stratum's rate. Unlike sampleBy this is "
        "reproducible across runs/engines AND consistent under "
        "repartitioning — it is a pure codegen'd filter, no shuffle, no "
        "RNG state; at 100 TB it composes with partition pruning."
    ),
)
def sample_stratified(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    hb = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast(
        "int"
    )
    rate = F.element_at(
        F.create_map(
            *[x for k, v in _SAMPLE_RATES.items() for x in (F.lit(k), F.lit(v))]
        ),
        F.col("lang"),
    )
    return d.where(hb % 100 < F.coalesce(rate, F.lit(0))).select("doc_id", "lang")


# BPE-ish pre-tokenizer: contraction suffixes, space-prefixed word/number
# runs, punctuation runs (GPT-2 shape, restricted to the Java∩RE2 dialect —
# no lookahead).
_BPE_RE = "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s']+"


@spec(
    "text_bpe_count",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}')) AS INTEGER)
             AS n_bpe_pieces,
           len({_TOKS_SQL}) AS n_ws_tokens
    FROM documents
    """,
    doc=(
        "BPE-ish token counting: a GPT-2-shaped pre-tokenizer regex "
        "(contractions, space-prefixed word/number runs, punctuation "
        "runs; restricted to the Java-regex ∩ RE2 dialect) counts the "
        "pieces a subword tokenizer would split on, beside the "
        "whitespace count — the cost estimator for token budgeting."
    ),
)
def text_bpe_count(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_BPE_RE)).alias("n_bpe_pieces"),
        T.token_count("text").alias("n_ws_tokens"),
    )


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"


@spec(
    "text_pii_scrub",
    f"""
    WITH raw AS (
      SELECT c_custkey,
             c_name || ' <' || lower(replace(c_name, '#', '.'))
               || '@example.com> phone '
               || printf('%02d-%03d-%03d-%04d',
                         10 + c_custkey % 90, 100 + c_custkey % 900,
                         100 + (c_custkey * 7) % 900,
                         1000 + (c_custkey * 13) % 9000) AS t
      FROM customer
    )
    SELECT c_custkey,
           regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_PHONE_RE}', '[PHONE]', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS INTEGER)
             AS n_phones
    FROM raw
    """,
    doc=(
        "PII scrubbing — the redaction pass every training corpus needs: "
        "email + phone patterns replaced with typed placeholders, with "
        "per-row match counts for an audit trail. PII-bearing text is "
        "synthesized deterministically from customer (the fixture has no "
        "natural PII) so redaction actually fires on every row. Pure "
        "codegen'd regexp_replace/regexp_count — no UDF; the patterns "
        "stay in the Java-regex ∩ RE2 common dialect so both engines "
        "match identical spans."
    ),
)
def text_pii_scrub(spark, sf_dir):
    c = spread(load_table(spark, sf_dir, "customer"))
    raw = c.select(
        "c_custkey",
        F.concat(
            F.col("c_name"),
            F.lit(" <"),
            F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
            F.lit("@example.com> phone "),
            F.format_string(
                "%02d-%03d-%03d-%04d",
                F.col("c_custkey") % 90 + 10,
                F.col("c_custkey") % 900 + 100,
                (F.col("c_custkey") * 7) % 900 + 100,
                (F.col("c_custkey") * 13) % 9000 + 1000,
            ),
        ).alias("t"),
    )
    return raw.select(
        "c_custkey",
        F.regexp_replace(
            F.regexp_replace("t", _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
        ).alias("scrubbed"),
        F.regexp_count(F.col("t"), F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(_PHONE_RE)).alias("n_phones"),
    )


@spec(
    "text_repetition",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
    idx AS (SELECT doc_id, ts, UNNEST(range(1, len(ts))) AS i FROM toks),
    bg AS (SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS gram FROM idx),
    per AS (SELECT doc_id, gram, COUNT(*) AS c FROM bg GROUP BY doc_id, gram),
    st AS (SELECT doc_id, SUM(c) AS total, COUNT(*) AS n_distinct, MAX(c) AS top
           FROM per GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(st.total, 0) AS BIGINT) AS n_bigrams,
           ROUND(CASE WHEN st.total > 0
                 THEN 1.0 - st.n_distinct * 1.0 / st.total ELSE 0.0 END
                 * 10000) / 10000 AS dup_bigram_frac,
           ROUND(CASE WHEN st.total > 0
                 THEN st.top * 1.0 / st.total ELSE 0.0 END
                 * 10000) / 10000 AS top_bigram_frac
    FROM documents d LEFT JOIN st ON st.doc_id = d.doc_id
    """,
    doc=(
        "Gopher-style repetition signals: fraction of duplicate bigrams "
        "(1 - distinct/total) and the most-frequent-bigram share, per "
        "document — the repetition filters a C4/Gopher cleaning pass "
        "thresholds on. Two cascaded hash aggregations over the exploded "
        "bigrams (both keyed by doc_id, so the second agg and the join "
        "back reuse the first shuffle's partitioning); docs too short "
        "for a bigram surface with zeros via the left join."
    ),
)
def text_repetition(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    per = (
        spread(d)
        .select("doc_id", F.explode(T.word_ngrams("text", 2)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
    )
    st = per.groupBy("doc_id").agg(
        F.sum("c").alias("_total"),
        F.count("*").alias("_distinct"),
        F.max("c").alias("_top"),
    )
    has = F.col("_total") > 0
    return (
        d.select("doc_id")
        .join(st, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_total", F.lit(0)).alias("n_bigrams"),
            roundn(
                F.when(has, 1.0 - F.col("_distinct") / F.col("_total")).otherwise(0.0),
                4,
            ).alias("dup_bigram_frac"),
            roundn(
                F.when(has, F.col("_top") / F.col("_total")).otherwise(0.0), 4
            ).alias("top_bigram_frac"),
        )
    )


# Decontamination: the held-out "benchmark" slice is a deterministic
# fixture carve-out (doc_id % 17 == 0 ≈ 6% of docs); a training doc is
# contaminated when it shares >= _DECON_MIN distinct 3-gram shingles
# with ANY benchmark doc.
_DECON_MOD = 17
_DECON_MIN = 3


@spec(
    "dedup_decontaminate",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
    idx AS (SELECT doc_id, ts, UNNEST(range(1, GREATEST(len(ts) - 1, 1))) AS i
            FROM toks),
    sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS s
           FROM idx WHERE i + 2 <= len(ts)),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % {_DECON_MOD} = 0),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_shared
      FROM sh WHERE doc_id % {_DECON_MOD} <> 0 AND s IN (SELECT s FROM bench)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
           CAST(COALESCE(h.n_shared, 0) >= {_DECON_MIN} AS INTEGER)
             AS contaminated
    FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE d.doc_id % {_DECON_MOD} <> 0
    """,
    doc=(
        "Benchmark decontamination — flag training documents sharing "
        ">= 3 distinct 3-gram shingles with a held-out eval slice. The "
        "100 TB shape is the point: the benchmark shingle set is small "
        "(eval suites are MBs, not TBs), so it is DISTINCT-ed and "
        "broadcast; the 100 TB training side streams through a "
        "broadcast-hash semi-count with NO shuffle of the corpus — "
        "only the per-doc hit counts (8-byte id + count) aggregate."
    ),
)
def dedup_decontaminate(spark, sf_dir):
    from odl_etl_spark.operators.dedup import _shingle_hashes

    d = load_table(spark, sf_dir, "documents")
    # Shingles travel as 64-bit hashes from the windowed token pipeline
    # (r17; same swap as the curation funnel's decontamination stage):
    # the broadcast bench set carries 8 bytes/shingle instead of ~25-char
    # strings and the codegen'd lead()-window replaces the interpreted
    # HOF transform/slice/concat_ws chain. n_shared counts DISTINCT
    # shared shingles, so the multiset window output is deduped per
    # (doc, shingle) — a map-side-combining exchange, cheaper at sf0.1
    # than the per-row array_distinct it replaces (A/B: 0.97s vs 1.11s).
    sh = (
        _shingle_hashes(d, "doc_id", "text", 3)
        .select(F.col("_id").alias("doc_id"), F.col("_s64").alias("s"))
        .dropDuplicates(["doc_id", "s"])
    )
    bench = (
        sh.where(F.col("doc_id") % _DECON_MOD == 0).select("s").distinct()
    )
    hits = (
        sh.where(F.col("doc_id") % _DECON_MOD != 0)
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("_n"))
    )
    return (
        d.where(F.col("doc_id") % _DECON_MOD != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_n", F.lit(0)).alias("n_shared"),
            (F.coalesce("_n", F.lit(0)) >= _DECON_MIN).cast("int").alias(
                "contaminated"
            ),
        )
    )


_MIX_BUDGET = 1_000_000  # token budget the epochs column is quoted against


@spec(
    "corpus_mix",
    f"""
    WITH per AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), z AS (SELECT SUM(sqrt(n_tokens)) AS z FROM per)
    SELECT source, n_docs, n_tokens,
           ROUND(sqrt(n_tokens) / z.z * 10000) / 10000 AS mix_weight,
           ROUND(sqrt(n_tokens) / z.z * {_MIX_BUDGET} / n_tokens * 100) / 100
             AS epochs
    FROM per CROSS JOIN z
    """,
    doc=(
        "Data-mixing weights (multilingual/multi-source rebalancing, "
        "alpha = 0.5 temperature sampling a la multilingual BERT/XLM): "
        "per-source token counts, normalized sqrt-scaled sampling "
        "weights, and the implied epochs over each source at a fixed "
        "token budget. One hash agg to source granularity (tiny), then "
        "a broadcast cross join of the 1-row normalizer — the corpus "
        "is scanned once; everything after is dimension-sized."
    ),
)
def corpus_mix(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(T.token_count("text")).alias("n_tokens"),
    )
    z = per.agg(F.sum(F.sqrt("n_tokens")).alias("_z"))
    w = F.sqrt("n_tokens") / F.col("_z")
    return per.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "n_tokens",
        roundn(w, 4).alias("mix_weight"),
        roundn(w * _MIX_BUDGET / F.col("n_tokens"), 2).alias("epochs"),
    )


@spec(
    "text_chunk",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), n AS (
      SELECT doc_id, toks,
             1 + (GREATEST(len(toks) - 32, 0) + 23) // 24 AS n_chunks
      FROM t
    ), c AS (
      SELECT doc_id, toks,
             CAST(UNNEST(range(0, n_chunks)) AS INTEGER) AS chunk_idx
      FROM n
    )
    SELECT doc_id, chunk_idx,
           CAST(len(list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32))
                AS INTEGER) AS n_tokens,
           md5(array_to_string(
                 list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32), ' '))
             AS chunk_md5
    FROM c
    """,
    doc=(
        "Overlapping token-window chunking (32-token windows, stride 24 — "
        "the RAG/pretraining document-splitting shape): tokens → "
        "integer-arithmetic chunk count → sequence+posexplode fan-out → "
        "per-chunk slice. Pure generator/expression work, no UDF and no "
        "shuffle — chunking is embarrassingly parallel and the bounded "
        "fan-out (≤ n_tokens/stride rows per doc) keeps task output "
        "proportional to input at 100 TB. Chunk content is emitted as "
        "md5 so the hash check covers the exact slice contents."
    ),
)
def text_chunk(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    t = d.select(F.col("doc_id"), T.tokens("text").alias("toks")).withColumn(
        "n_chunks",
        F.lit(1) + F.expr("(greatest(size(toks) - 32, 0) + 23) div 24"),
    )
    c = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0).cast("int"), (F.col("n_chunks") - 1).cast("int"))
        ).alias("chunk_idx"),
    )
    sl = F.slice(F.col("toks"), F.col("chunk_idx") * 24 + 1, F.lit(32))
    return c.select(
        "doc_id",
        "chunk_idx",
        F.size(sl).cast("int").alias("n_tokens"),
        F.md5(F.array_join(sl, " ")).alias("chunk_md5"),
    )


_URL_EXPR_SQL = """
      CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END || '://' ||
      CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
      UPPER(source) || '.Example.COM' ||
      CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END ||
      '/Docs/' || CAST(doc_id % 40 AS VARCHAR) ||
      CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
      '?utm_source=feed&ref=' || CAST(doc_id % 5 AS VARCHAR) ||
      CASE WHEN doc_id % 6 = 0 THEN '&utm_campaign=x' ELSE '' END ||
      CASE WHEN doc_id % 7 = 0 THEN '#sec' || CAST(doc_id AS VARCHAR) ELSE '' END
"""


@spec(
    "dedup_url",
    f"""
    WITH urls AS (
      SELECT doc_id, {_URL_EXPR_SQL} AS u FROM documents
    ), c1 AS (
      SELECT doc_id, regexp_replace(u, '#.*$', '', 'g') AS u FROM urls
    ), c2 AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(u, '([?&])utm_[^&]*', '\\1', 'g'),
                   '\\?&+', '?', 'g'),
                 '&&+', '&', 'g'),
               '[?&]+$', '', 'g') AS u
      FROM c1
    ), c3 AS (
      SELECT doc_id, regexp_extract(u, '^([^/?#]*://[^/?#]*)', 1) AS head, u
      FROM c2
    ), c4 AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(lower(head), '://www\\.', '://', 'g'),
               ':(443|80)$', '', 'g') || substr(u, length(head) + 1) AS u
      FROM c3
    ), c5 AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(u, '/\\?', '?', 'g'), '/$', '', 'g')
               AS u
      FROM c4
    )
    SELECT u AS canonical_url, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM c5 GROUP BY 1
    """,
    doc=(
        "URL-canonicalization dedup (the C4/CommonCrawl web-corpus "
        "cleanup): synthesize case/port/www/utm/fragment-varied URLs "
        "deterministically from document columns, canonicalize with "
        "chained regexp expressions (functions/text.canonical_url: drop "
        "fragment, strip utm_* params repairing separators, lowercase "
        "scheme+host, strip www. and default ports, strip trailing "
        "slash), then hash-group by canonical form. Pure codegen "
        "expressions + one keyed agg - embarrassingly scalable."
    ),
)
def dedup_url(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(did % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.upper("source"),
        F.lit(".Example.COM"),
        F.when(did % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Docs/"),
        (did % 40).cast("string"),
        F.when(did % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&ref="),
        (did % 5).cast("string"),
        F.when(did % 6 == 0, F.lit("&utm_campaign=x")).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.concat(F.lit("#sec"), did.cast("string"))).otherwise(
            F.lit("")
        ),
    )
    return (
        d.select("doc_id", T.canonical_url(url).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


@spec(
    "text_keywords",
    f"""
    WITH tf AS (
      SELECT doc_id, t AS term, COUNT(*) AS tf
      FROM (SELECT doc_id, UNNEST({_TOKS_SQL}) AS t FROM documents)
      GROUP BY doc_id, t
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * LN(n.n_docs * 1e0 / dfreq.df) * 10000) / 10000
               AS score,
             CAST(ROW_NUMBER() OVER (
                    PARTITION BY tf.doc_id
                    ORDER BY tf.tf * LN(n.n_docs * 1e0 / dfreq.df) DESC,
                             tf.term ASC) AS INT) AS rk
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, score, rk FROM scored WHERE rk <= 3
    """,
    doc=(
        "Keyword extraction: top-3 TF-IDF terms per document (the "
        "per-doc counterpart of text_tfidf's global top-25). The "
        "vocabulary-sized document-frequency table broadcasts into the "
        "(doc, term) side, the ln(N/df) weight is a folded scalar "
        "expression, and the per-doc rank filter plans as "
        "WindowGroupLimit — partial per-partition top-3 before the "
        "doc-keyed exchange, so the shuffle carries at most 3 rows per "
        "doc per task regardless of vocabulary size. Deterministic "
        "tie-break on the raw double score, then term."
    ),
)
def text_keywords(spark, sf_dir):
    from pyspark.sql import Window

    from odl_etl_spark.operators.materialize import materialize

    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()  # O(1) driver scalar, folded into the expression
    # Postings referenced by the df agg AND the scoring join —
    # materialize for one tokenize pass per run (r17, the text_bm25 /
    # text_tfidf restructure).
    tf = materialize(
        spread(d)
        .select("doc_id", F.explode(T.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    raw = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(raw.desc(), F.col("term").asc())
    return (
        tf.join(F.broadcast(dfreq), "term")
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 3)
        .select("doc_id", "term", roundn(raw, 4).alias("score"), "rk")
    )


SPECS = [
    text_tokenize_tf,
    text_ngrams,
    text_lang_stats,
    text_token_count,
    text_quality,
    text_langid,
    text_fingerprint,
    dedup_exact,
    dedup_fingerprint,
    dedup_ngram_jaccard,
    dedup_near,
    dedup_simhash,
    dedup_cluster,
    text_tfidf,
    text_pii_scrub,
    text_winnow_fp,
    text_pack_sequences,
    sample_stratified,
    text_bpe_count,
    corpus_filter,
    text_repetition,
    dedup_decontaminate,
    corpus_mix,
    text_chunk,
    dedup_url,
    text_keywords,
    # round 6 (sole addition under the registry-growth freeze,
    # VERDICT r5 #2): incremental batch-vs-corpus near-dedup.
    dedup_incremental,
]
