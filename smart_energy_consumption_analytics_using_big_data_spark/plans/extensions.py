"""Extension queries: dedup, similarity search, text analysis,
multimodal plumbing (SURVEY.md SS7 north-star scope).

Hash-based operators use md5 exclusively so the DuckDB oracle computes
bit-identical signatures. Array math accumulates left-to-right in both
engines (Spark `aggregate` / DuckDB `list_sum`), with final rounding.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from smart_energy_consumption_analytics_using_big_data_spark.ext import dedup as D
from smart_energy_consumption_analytics_using_big_data_spark.operators import joins as J
from smart_energy_consumption_analytics_using_big_data_spark.ext import multimodal as MM
from smart_energy_consumption_analytics_using_big_data_spark.ext import similarity as S
from smart_energy_consumption_analytics_using_big_data_spark.functions import textfns as TX
from smart_energy_consumption_analytics_using_big_data_spark.pipeline import corpus as C
from smart_energy_consumption_analytics_using_big_data_spark.operators.aggregates import sum_exact
from smart_energy_consumption_analytics_using_big_data_spark.plans._registry import DSUM, q, t

# ---------------------------------------------------------------------------
# dedup

_SHINGLES_CTE = """
tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh0 AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 2),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
  FROM tok WHERE len(toks) >= 3
),
sh AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh0
  ) WHERE df <= 100
)
"""


@q(
    "q_dedup_exact",
    "SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id, count(*) AS n_copies "
    "FROM documents GROUP BY md5(text)",
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups by content hash (hash-groupBy; one shuffle on
    a small fixed-width key)."""
    return D.exact_dedup_groups(t(spark, sf_dir, "documents"))


@q(
    "q_dedup_incremental",
    """
    WITH hist AS (
      SELECT DISTINCT md5(text) AS text_hash FROM documents
      WHERE CAST(substr(source, 4) AS INT) < 10
    ),
    batch AS (
      SELECT doc_id, lang, source, n_chars, md5(text) AS text_hash FROM documents
      WHERE CAST(substr(source, 4) AS INT) >= 10
    ),
    firsts AS (
      SELECT * FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY text_hash) AS keep_id FROM batch
      ) WHERE doc_id = keep_id
    )
    SELECT doc_id, lang, source, n_chars FROM firsts
    WHERE text_hash NOT IN (SELECT text_hash FROM hist)
    """,
)
def q_dedup_incremental(spark, sf_dir):
    """Incremental ingest dedup: sources src0-src9 stand in for the
    already-deduplicated historical corpus, src10-src19 for today's
    batch; only batch docs whose content hash is new both within the
    batch (keep-first) and against history are admitted. The history
    side ships only distinct md5 hashes into the anti-join - the
    petabyte corpus itself is never re-shuffled per ingest."""
    docs = t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    admitted = D.incremental_dedup(
        docs.where(src_num < 10), docs.where(src_num >= 10)
    )
    return admitted.select("doc_id", "lang", "source", "n_chars")


@q(
    "q_dedup_jaccard",
    f"""
    WITH {_SHINGLES_CTE},
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, round(common / (sa.n + sb.n - common), 6) AS jaccard
    FROM pairs JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
    """,
)
def q_dedup_jaccard(spark, sf_dir):
    """3-gram word-shingle Jaccard for every co-occurring pair, with
    document-frequency pruning (df<=100) ahead of the pair join."""
    sh = D.shingle_table(t(spark, sf_dir, "documents"), n=3, max_df=100)
    return D.jaccard_pairs(sh, min_jaccard=0.0)


@q(
    "q_dedup_minhash_sig",
    f"""
    WITH {_SHINGLES_CTE}
    SELECT doc_id,
           min(md5('0|' || shingle)) AS mh_0, min(md5('1|' || shingle)) AS mh_1,
           min(md5('2|' || shingle)) AS mh_2, min(md5('3|' || shingle)) AS mh_3,
           min(md5('4|' || shingle)) AS mh_4, min(md5('5|' || shingle)) AS mh_5
    FROM sh GROUP BY doc_id
    """,
)
def q_dedup_minhash_sig(spark, sf_dir):
    """MinHash signatures (6 md5-family hashes) per document."""
    sh = D.shingle_table(t(spark, sf_dir, "documents"), n=3, max_df=100)
    return D.minhash_signatures(sh, num_hashes=6)


@q(
    "q_dedup_minhash_lsh",
    f"""
    WITH {_SHINGLES_CTE},
    sig AS (
      SELECT doc_id,
             min(md5('0|' || shingle)) AS mh_0, min(md5('1|' || shingle)) AS mh_1,
             min(md5('2|' || shingle)) AS mh_2, min(md5('3|' || shingle)) AS mh_3,
             min(md5('4|' || shingle)) AS mh_4, min(md5('5|' || shingle)) AS mh_5
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, mh_0 || mh_1 AS band_key FROM sig
      UNION ALL SELECT doc_id, 1, mh_2 || mh_3 FROM sig
      UNION ALL SELECT doc_id, 2, mh_4 || mh_5 FROM sig
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """,
)
def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH candidate pairs (3 bands x 2 rows) - the scale path:
    bucket join instead of all-pairs."""
    sh = D.shingle_table(t(spark, sf_dir, "documents"), n=3, max_df=100)
    sig = D.minhash_signatures(sh, num_hashes=6)
    return D.lsh_candidate_pairs(sig, num_hashes=6, band_size=2)


@q(
    "q_dedup_lsh_verified",
    f"""
    WITH {_SHINGLES_CTE},
    sig AS (
      SELECT doc_id,
             min(md5('0|' || shingle)) AS mh_0, min(md5('1|' || shingle)) AS mh_1,
             min(md5('2|' || shingle)) AS mh_2, min(md5('3|' || shingle)) AS mh_3,
             min(md5('4|' || shingle)) AS mh_4, min(md5('5|' || shingle)) AS mh_5
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, mh_0 || mh_1 AS band_key FROM sig
      UNION ALL SELECT doc_id, 1, mh_2 || mh_3 FROM sig
      UNION ALL SELECT doc_id, 2, mh_4 || mh_5 FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, count(*) AS cmn
      FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b
        ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, round(cmn / (sa.n + sb.n - cmn), 6) AS jaccard
    FROM common JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
    """,
)
def q_dedup_lsh_verified(spark, sf_dir):
    """The production dedup composition: LSH candidate generation
    (cheap, bucket joins) followed by exact Jaccard verification only
    on candidates - never all-pairs."""
    sh = D.shingle_table(t(spark, sf_dir, "documents"), n=3, max_df=100)
    sig = D.minhash_signatures(sh, num_hashes=6)
    cand = D.lsh_candidate_pairs(sig, num_hashes=6, band_size=2)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        cand.join(a, "doc_a").join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("cmn"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("cmn") / (F.col("n_a") + F.col("n_b") - F.col("cmn")), 6).alias(
                "jaccard"
            ),
        )
    )


def _simhash_cte(bits: int = 32) -> str:
    case = (
        "CASE WHEN sum(CASE WHEN substr(hh, {j}, 1) IN "
        "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END"
    )
    concat = " || ".join(case.format(j=j + 1) for j in range(bits))
    return (
        "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), "
        "h AS (SELECT doc_id, md5(token) AS hh FROM tok), "
        f"sig AS (SELECT doc_id, {concat} AS simhash FROM h GROUP BY doc_id)"
    )


def _simhash_oracle(bits: int = 32) -> str:
    return f"WITH {_simhash_cte(bits)} SELECT doc_id, simhash FROM sig"


@q("q_dedup_simhash", _simhash_oracle(32))
def q_dedup_simhash(spark, sf_dir):
    """32-bit SimHash fingerprints (md5-digit bit source, frequency
    weighting via explode)."""
    return D.simhash(t(spark, sf_dir, "documents"), bits=32)


# ---------------------------------------------------------------------------
# similarity search

_DOT = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


@q(
    "q_sim_cosine_topk",
    f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings ORDER BY vec_id LIMIT 1)
    SELECT e.vec_id, e.label,
           round({_DOT.format(a='e.embedding', b='q.qvec')} /
                 (sqrt({_DOT.format(a='e.embedding', b='e.embedding')}) *
                  sqrt({_DOT.format(a='q.qvec', b='q.qvec')})), 6) AS cosine
    FROM embeddings e CROSS JOIN q
    ORDER BY cosine DESC, e.vec_id LIMIT 10
    """,
)
def q_sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k against the first vector (exact ANN
    baseline; single corpus scan + TakeOrdered)."""
    emb = t(spark, sf_dir, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    return S.cosine_topk(emb, query, k=10).select("vec_id", "label", "cosine")


def _lsh_bucket_oracle(n_planes: int = 8, dim: int = 64) -> str:
    bits = []
    for p in range(n_planes):
        signs = S.hyperplane_signs(p, dim)
        lit = "[" + ", ".join(str(s) for s in signs) + "]"
        proj = (
            f"list_sum(list_transform(generate_series(1, len(embedding)), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({lit})[i]))"
        )
        bits.append(f"CASE WHEN {proj} > 0 THEN '1' ELSE '0' END")
    concat = " || ".join(bits)
    return f"SELECT vec_id, {concat} AS bucket FROM embeddings"


@q("q_sim_lsh_bucket", _lsh_bucket_oracle())
def q_sim_lsh_bucket(spark, sf_dir):
    """Random-hyperplane LSH bucket ids (deterministic md5-seeded
    planes) - the ANN scale path's partitioning key."""
    return S.lsh_buckets(t(spark, sf_dir, "embeddings"), n_planes=8, dim=64)


def _ann_lsh_oracle(k: int = 10) -> str:
    cos = (
        f"round({_DOT.format(a='e.embedding', b='q.qvec')} / "
        f"(sqrt({_DOT.format(a='e.embedding', b='e.embedding')}) * "
        f"sqrt({_DOT.format(a='q.qvec', b='q.qvec')})), 6)"
    )
    return f"""
    WITH bk AS ({_lsh_bucket_oracle()}),
    q AS (
      SELECT e.embedding AS qvec, bk.bucket AS qbucket
      FROM embeddings e JOIN bk USING (vec_id)
      ORDER BY e.vec_id LIMIT 1
    )
    SELECT e.vec_id, bk.bucket, {cos} AS cosine
    FROM embeddings e JOIN bk USING (vec_id), q
    WHERE bk.bucket = q.qbucket
    ORDER BY cosine DESC, e.vec_id LIMIT {k}
    """


@q("q_sim_ann_lsh", _ann_lsh_oracle(10))
def q_sim_ann_lsh(spark, sf_dir):
    """ANN top-k restricted to the query vector's LSH bucket. Fully
    oracled: deterministic hyperplanes + unique (cosine, vec_id)
    tiebreak make the approximate result itself reproducible."""
    emb = t(spark, sf_dir, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    return S.ann_topk_lsh(emb, query, k=10, n_planes=8, dim=64)


@q(
    "q_emb_neardup",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_DOT.format(a='a.embedding', b='b.embedding')} /
                 (sqrt({_DOT.format(a='a.embedding', b='a.embedding')}) *
                  sqrt({_DOT.format(a='b.embedding', b='b.embedding')})), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round({_DOT.format(a='a.embedding', b='b.embedding')} /
                (sqrt({_DOT.format(a='a.embedding', b='a.embedding')}) *
                 sqrt({_DOT.format(a='b.embedding', b='b.embedding')})), 6) >= 0.4
    """,
)
def q_emb_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact all-pairs baseline;
    threshold 0.4 fits the synthetic corpus' similarity ceiling)."""
    return S.neardup_pairs(t(spark, sf_dir, "embeddings"), threshold=0.4)


def _neardup_lsh_oracle(threshold: float = 0.4) -> str:
    cos = (
        f"round({_DOT.format(a='ea.embedding', b='eb.embedding')} / "
        f"(sqrt({_DOT.format(a='ea.embedding', b='ea.embedding')}) * "
        f"sqrt({_DOT.format(a='eb.embedding', b='eb.embedding')})), 6)"
    )
    return f"""
    WITH bk AS ({_lsh_bucket_oracle()}),
    tagged AS (
      SELECT e.vec_id, e.embedding, bk.bucket
      FROM embeddings e JOIN bk USING (vec_id)
    )
    SELECT ea.vec_id AS id_a, eb.vec_id AS id_b, {cos} AS cosine
    FROM tagged ea JOIN tagged eb
      ON ea.bucket = eb.bucket AND ea.vec_id < eb.vec_id
    WHERE {cos} >= {threshold}
    """


@q("q_emb_neardup_lsh", _neardup_lsh_oracle(0.4))
def q_emb_neardup_lsh(spark, sf_dir):
    """Near-dup pairs via LSH bucket prejoin (the 100 TB path: shuffle
    on bucket key, quadratic only within buckets). Fully oracled - the
    md5-seeded hyperplanes are deterministic literals, so the bucket
    restriction is reproducible in SQL."""
    return S.neardup_pairs_lsh(t(spark, sf_dir, "embeddings"), threshold=0.4)


# ---------------------------------------------------------------------------
# text analysis

_STOPLIST_SQL = "('" + "', '".join(TX.EN_STOPWORDS) + "')"


@q(
    "q_text_tokens",
    "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens, "
    "CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INTEGER) AS n_bpeish_tokens "
    "FROM documents",
)
def q_text_tokens(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex segmentation."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count_ws(F.col("text")).alias("n_ws_tokens"),
        TX.token_count_bpeish(F.col("text")).alias("n_bpeish_tokens"),
    )


@q(
    "q_text_quality",
    f"""
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           round(length(replace(text, ' ', '')) / len(string_split(text, ' ')), 6) AS avg_token_len,
           round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) / length(text), 6) AS punct_ratio,
           round(len(list_filter(string_split(text, ' '), x -> x IN {_STOPLIST_SQL}))
                 / len(string_split(text, ' ')), 6) AS stopword_ratio
    FROM documents
    """,
)
def q_text_quality(spark, sf_dir):
    """Document quality scoring: length/punctuation/stopword signals."""
    docs = t(spark, sf_dir, "documents")
    feats = TX.quality_features(F.col("text"))
    return docs.select("doc_id", *[col.alias(name) for name, col in feats.items()])


@q(
    "q_text_langid",
    f"""
    SELECT doc_id,
           CASE WHEN len(list_filter(string_split(text, ' '), x -> x IN {_STOPLIST_SQL})) >= 1
                THEN 'en' ELSE 'unk' END AS predicted_lang,
           lang AS actual_lang
    FROM documents
    """,
)
def q_text_langid(spark, sf_dir):
    """Language-ID heuristic (stopword hits) vs the labeled lang."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.predicted_lang(F.col("text")).alias("predicted_lang"),
        F.col("lang").alias("actual_lang"),
    )


@q(
    "q_text_fingerprint",
    "SELECT doc_id, md5(lower(trim(text))) AS fingerprint, "
    "list_min(list_transform(generate_series(1, greatest(length(text) - 7, 1)), "
    "i -> md5(substr(text, i, 8)))) AS min_shingle_hash FROM documents",
)
def q_text_fingerprint(spark, sf_dir):
    """Document fingerprinting: normalized md5 + rolling 8-char shingle
    min-hash."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.fingerprint_md5(F.col("text")).alias("fingerprint"),
        TX.min_shingle_hash(F.col("text"), k=8).alias("min_shingle_hash"),
    )


@q(
    "q_text_topterms",
    """
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    SELECT token, count(*) AS n FROM tok GROUP BY token
    ORDER BY n DESC, token LIMIT 20
    """,
)
def q_text_topterms(spark, sf_dir):
    """Corpus term frequency top-k (explode -> count -> TakeOrdered;
    the map-side partial agg absorbs the token blowup)."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(TX.tokens_ws(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@q(
    "q_emb_centroids",
    """
    SELECT label, u.pos AS pos, round(avg(u.val), 6) AS centroid_val
    FROM (
      SELECT label,
             unnest(list_transform(generate_series(1, len(embedding)),
                                   i -> {'pos': i, 'val': CAST(embedding[i] AS DOUBLE)})) AS u
      FROM embeddings
    ) GROUP BY label, u.pos
    """,
)
def q_emb_centroids(spark, sf_dir):
    """Per-label centroid vectors via posexplode + mean per dimension -
    the IVF coarse-quantizer training step as a plain aggregation."""
    emb = t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid_val"))
    )


# ---------------------------------------------------------------------------
# multimodal plumbing


@q(
    "q_mm_meta",
    "SELECT doc_id, CAST(strlen(text) AS INTEGER) AS n_bytes, "
    "sha256(text) AS sha256_hex, md5(text) AS payload_md5 FROM documents",
)
def q_mm_meta(spark, sf_dir):
    """Binary payload metadata: byte length + content hashes computed
    over the BINARY column (UTF-8 payload stand-in)."""
    docs = MM.with_binary_payload(t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.col("payload_meta.n_bytes").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("sha256_hex"),
        F.md5(F.col("payload")).alias("payload_md5"),
    )


@q(
    "q_mm_decode",
    """
    SELECT doc_id,
           CAST(coalesce(strlen(text), 0) AS INTEGER) AS n_bytes,
           CASE WHEN text IS NULL OR strlen(text) = 0 THEN 0.0
                ELSE CAST(list_sum(list_transform(
                       generate_series(1, strlen(text)),
                       i -> CAST(unicode(substr(text, i, 1)) AS BIGINT)))
                     AS DOUBLE) / strlen(text) END AS mean_byte,
           CAST(CASE WHEN text IS NULL OR strlen(text) = 0 THEN 0 ELSE 4 END
                AS INTEGER) AS feature_dim
    FROM documents
    """,
)
def q_mm_decode(spark, sf_dir):
    """Arrow-batched decode/feature-extract stub over binary payloads,
    value-checked (VERDICT r14 task 6 — the q_mm_resize precedent
    applied to decode_features): the deterministic fake decode (mean
    byte value over the UTF-8 payload + a fixed feature dim) is
    reproducible in SQL because the corpus is ASCII (strlen ==
    octet_length, probed at every test SF r15), so the whole
    mapInPandas stage — schema, Arrow batch shape, empty-payload
    guard — runs under the driver's hash check. The multimodal family
    is now fully value-checked; swapping the stub for a real PIL/ffmpeg
    decode changes only the Python body, not the verified plumbing."""
    docs = MM.with_binary_payload(t(spark, sf_dir, "documents"))
    return MM.decode_features(docs)


_UNNEST_EMB = (
    "SELECT {id}, unnest(list_transform(generate_series(1, len(embedding)), "
    "i -> {{'pos': i, 'val': CAST(embedding[i] AS DOUBLE)}})) AS u FROM embeddings"
)


@q(
    "q_emb_ivf_assign",
    f"""
    WITH cent AS (
      SELECT label AS cell, u.pos AS pos, avg(u.val) AS cval
      FROM ({_UNNEST_EMB.format(id='label')}) GROUP BY label, u.pos
    ),
    emb AS (
      SELECT vec_id, u.pos AS pos, u.val AS v
      FROM ({_UNNEST_EMB.format(id='vec_id')})
    ),
    scores AS (
      SELECT e.vec_id, c.cell,
             round(sum(e.v * c.cval) /
                   (sqrt(sum(e.v * e.v)) * sqrt(sum(c.cval * c.cval))), 6) AS cell_cosine
      FROM emb e JOIN cent c USING (pos)
      GROUP BY e.vec_id, c.cell
    )
    SELECT vec_id, cell, cell_cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cell_cosine DESC, cell) AS rn
      FROM scores
    ) WHERE rn = 1
    """,
)
def q_emb_ivf_assign(spark, sf_dir):
    """IVF inverted-list build: train label centroids, assign every
    vector to its max-cosine cell (broadcast centroids, one corpus scan,
    row_number cell pick). The partitioning step of IVF ANN search."""
    emb = t(spark, sf_dir, "embeddings")
    return S.ivf_assign(emb, S.ivf_centroids(emb))


_ANN_IVF_ORACLE = f"""
    WITH cent AS (
      SELECT label AS cell, u.pos AS pos, avg(u.val) AS cval
      FROM ({_UNNEST_EMB.format(id='label')}) GROUP BY label, u.pos
    ),
    emb AS (
      SELECT vec_id, u.pos AS pos, u.val AS v
      FROM ({_UNNEST_EMB.format(id='vec_id')})
    ),
    scores AS (
      SELECT e.vec_id, c.cell,
             round(sum(e.v * c.cval) /
                   (sqrt(sum(e.v * e.v)) * sqrt(sum(c.cval * c.cval))), 6) AS cell_cosine
      FROM emb e JOIN cent c USING (pos)
      GROUP BY e.vec_id, c.cell
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cell_cosine DESC, cell) AS rn
        FROM scores
      ) WHERE rn = 1
    ),
    qv AS (SELECT embedding AS qvec FROM embeddings ORDER BY vec_id LIMIT 1),
    qe AS (
      SELECT u.pos AS pos, CAST(u.val AS DOUBLE) AS v
      FROM (SELECT unnest(list_transform(generate_series(1, len(qvec)),
                   i -> {{'pos': i, 'val': CAST(qvec[i] AS DOUBLE)}})) AS u FROM qv)
    ),
    probe AS (
      SELECT c.cell FROM cent c JOIN qe USING (pos)
      GROUP BY c.cell
      ORDER BY round(sum(c.cval * qe.v) /
                     (sqrt(sum(c.cval * c.cval)) * sqrt(sum(qe.v * qe.v))), 6) DESC, c.cell
      LIMIT 2
    )
    SELECT e.vec_id, a.cell,
           round({_DOT.format(a='e.embedding', b='q.qvec')} /
                 (sqrt({_DOT.format(a='e.embedding', b='e.embedding')}) *
                  sqrt({_DOT.format(a='q.qvec', b='q.qvec')})), 6) AS cosine
    FROM embeddings e
    JOIN assign a USING (vec_id)
    JOIN probe p ON a.cell = p.cell, (SELECT qvec FROM qv) q
    ORDER BY cosine DESC, e.vec_id LIMIT 10
    """


@q("q_sim_ann_ivf", _ANN_IVF_ORACLE)  # deterministic cells + tiebreaks => oracled
def q_sim_ann_ivf(spark, sf_dir):
    """IVF ANN top-k: probe the 2 cells nearest the query, brute-force
    their inverted lists only (recall floor vs exact search asserted in
    tests/test_operators.py::test_ivf_ann_recall)."""
    emb = t(spark, sf_dir, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    return S.ann_topk_ivf(emb, query, k=10, nprobe=2)


def _components_oracle(threshold: float = 0.4) -> str:
    cos = (
        f"round({_DOT.format(a='ea.embedding', b='eb.embedding')} / "
        f"(sqrt({_DOT.format(a='ea.embedding', b='ea.embedding')}) * "
        f"sqrt({_DOT.format(a='eb.embedding', b='eb.embedding')})), 6)"
    )
    return f"""
    WITH RECURSIVE
    bk AS ({_lsh_bucket_oracle()}),
    tagged AS (
      SELECT e.vec_id, e.embedding, bk.bucket
      FROM embeddings e JOIN bk USING (vec_id)
    ),
    edges AS (
      SELECT ea.vec_id AS id_a, eb.vec_id AS id_b
      FROM tagged ea JOIN tagged eb
        ON ea.bucket = eb.bucket AND ea.vec_id < eb.vec_id
      WHERE {cos} >= {threshold}
    ),
    sym AS (SELECT id_a AS a, id_b AS b FROM edges
            UNION ALL SELECT id_b, id_a FROM edges),
    reach(id, lbl) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM sym)
      UNION
      SELECT s.a, r.lbl FROM sym s JOIN reach r ON r.id = s.b
    )
    SELECT id AS vec_id, min(lbl) AS component FROM reach GROUP BY id
    """


@q("q_dedup_components", _components_oracle(0.4))
def q_dedup_components(spark, sf_dir):
    """Dedup GROUPS from pairwise matches: connected components over
    the LSH-bucketed near-dup pair graph (the production composition -
    candidate edges confined to LSH buckets, so edge generation follows
    bucket sizes instead of corpus^2; exact all-pairs edges took 172s
    vs ~10s at sf0.1). Iterative min-label propagation; oracle is a
    DuckDB recursive CTE over the same bucket-restricted edges. The
    component id doubles as the canonical keep-id (min member)."""
    emb = t(spark, sf_dir, "embeddings")
    edges = S.neardup_pairs_lsh(emb, threshold=0.4)
    return D.connected_components(edges).select(
        F.col("id").alias("vec_id"), "component"
    )


@q(
    "q_dedup_simhash_pairs",
    f"""
    WITH {_simhash_cte(32)},
    blocks AS (
      SELECT doc_id, simhash, b.block AS block,
             substr(simhash, b.block * 8 + 1, 8) AS key
      FROM sig, (SELECT unnest(generate_series(0, 3)) AS block) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS fp_a, b.simhash AS fp_b
      FROM blocks a JOIN blocks b
        ON a.block = b.block AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT doc_a, doc_b,
             CAST(len(list_filter(generate_series(1, 32),
                  i -> substr(fp_a, i, 1) <> substr(fp_b, i, 1))) AS INTEGER) AS hamming
      FROM cand
    ) WHERE hamming <= 3
    """,
)
def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash hamming-LSH near-dup pairs: 4-block banding (complete
    for hamming <= 3 by pigeonhole) + exact-hamming verification on
    candidates only - the bitwise sibling of q_dedup_lsh_verified."""
    fp = D.simhash(t(spark, sf_dir, "documents"), bits=32)
    return D.simhash_candidate_pairs(fp, bits=32, n_blocks=4, max_hamming=3)


@q(
    "q_mm_frames",
    """
    SELECT doc_id, CAST(u AS INTEGER) AS frame_idx,
           round(u * 2.0, 6) AS frame_ts,
           CAST(u * 200 AS BIGINT) AS byte_offset
    FROM (
      SELECT doc_id,
             unnest(generate_series(0,
               least(4, CAST(floor((strlen(text) / 100.0) / 2.0) AS BIGINT)))) AS u
      FROM documents
    )
    """,
)
def q_mm_frames(spark, sf_dir):
    """Multimodal frame-sampling schedule: every payload row fans out to
    <=5 frame rows (idx, ts, byte offset) by pure plan arithmetic -
    sequence+explode, no decode, frames stay co-partitioned with their
    source (`ext/multimodal.frame_sample_plan`)."""
    docs = MM.with_binary_payload(t(spark, sf_dir, "documents"))
    return MM.frame_sample_plan(docs, bytes_per_s=100, every_s=2.0, max_frames=5)


@q(
    "q_text_tfidf",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term AS top_term, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def q_text_tfidf(spark, sf_dir):
    """TF-IDF top term per document: tf and df from one token explode
    (two aggregations sharing it), idf joined back with df broadcast,
    row_number top-1 per doc. The classic relevance primitive - no ML
    stage needed, pure aggregation algebra."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(TX.tokens_ws(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df derives from tf's own rows (one doc-term row per pair) via a
    # term-partitioned window, so the corpus is exploded ONCE and there
    # is no tf-with-df self-join re-running the explode (was 3 scans,
    # now the single heavy one + a trivial docs count).
    from pyspark.sql import Window as _W0

    df_w = F.count(F.lit(1)).over(_W0.partitionBy("term"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.withColumn("df", df_w)
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6),
        )
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("term").alias("top_term"), "tfidf")
    )


@q(
    "q_emb_quantize",
    """
    WITH q AS (
      SELECT vec_id,
             list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS lo,
             list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS hi
      FROM embeddings
    ),
    qv AS (
      SELECT e.vec_id, q.lo, q.hi,
             list_transform(generate_series(1, len(e.embedding)),
               i -> CAST(least(254.0, floor((CAST(e.embedding[i] AS DOUBLE) - q.lo)
                                            / (q.hi - q.lo) * 255.0)) - 127 AS INTEGER)) AS qs
      FROM embeddings e JOIN q USING (vec_id)
    )
    SELECT vec_id, round(lo, 6) AS lo, round(hi, 6) AS hi,
           CAST(list_sum(qs) AS BIGINT) AS q_sum,
           CAST(list_min(qs) AS INTEGER) AS q_min,
           CAST(list_max(qs) AS INTEGER) AS q_max
    FROM qv
    """,
)
def q_emb_quantize(spark, sf_dir):
    """Scalar int8 quantization of embeddings (per-vector min/max range,
    floor bucketing - no round() so both engines bucket identically):
    the 4x storage cut that makes 100 TB embedding corpora searchable;
    emitted as per-vector checksums so the oracle compares scalars."""
    emb = t(spark, sf_dir, "embeddings")
    xd = F.transform("embedding", lambda x: x.cast("double"))
    lo = F.array_min(xd)
    hi = F.array_max(xd)
    qs = F.transform(
        xd,
        lambda x: (
            F.least(F.lit(254.0), F.floor((x - F.col("lo")) / (F.col("hi") - F.col("lo")) * 255.0))
            - 127
        ).cast("int"),
    )
    base = emb.select("vec_id", "embedding", lo.alias("lo"), hi.alias("hi"))
    qv = base.withColumn("qs", qs)
    return qv.select(
        "vec_id",
        F.round("lo", 6).alias("lo"),
        F.round("hi", 6).alias("hi"),
        F.aggregate("qs", F.lit(0).cast("bigint"), lambda a, b: a + b).alias("q_sum"),
        F.array_min("qs").alias("q_min"),
        F.array_max("qs").alias("q_max"),
    )


@q(
    "q_mm_resize",
    """
    SELECT doc_id, CAST(64 AS INTEGER) AS out_w, CAST(64 AS INTEGER) AS out_h,
           CAST(least(strlen(text), 4096) AS INTEGER) AS n_bytes_out
    FROM documents
    """,
)
def q_mm_resize(spark, sf_dir):
    """Resize plumbing through mapInPandas (Arrow batches, stubbed
    transform) - deterministic fake output size makes even the Python
    stage oracle-checkable (`ext/multimodal.resize_stub`)."""
    docs = MM.with_binary_payload(t(spark, sf_dir, "documents"))
    return MM.resize_stub(docs, out_w=64, out_h=64)


@q(
    "q_text_rollhash",
    """
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, strlen(text)),
                              i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
             (a, b) -> (a * 257 + b) % 2147483647) AS rhash
    FROM documents
    """,
)
def q_text_rollhash(spark, sf_dir):
    """Rabin-Karp rolling-hash document fingerprint (polynomial fold
    over character codes, mod 2^31-1): pure integer arithmetic, so both
    engines produce identical fingerprints without any shared hash
    library (`functions/textfns.rolling_hash`)."""
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.rolling_hash(F.col("text")).alias("rhash"))


@q(
    "q_drift_psi",
    """
    WITH binned AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS is_ref,
             CAST(floor(value / 50.0) AS INTEGER) AS bin
      FROM events
    ),
    counts AS (
      SELECT event_type, bin,
             sum(is_ref) AS n_ref, sum(1 - is_ref) AS n_cur
      FROM binned GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, sum(n_ref) AS t_ref, sum(n_cur) AS t_cur,
             count(*) AS nb
      FROM counts GROUP BY 1
    )
    SELECT c.event_type,
           round(sum(((c.n_ref + 0.5) / (t.t_ref + 0.5 * t.nb)
                      - (c.n_cur + 0.5) / (t.t_cur + 0.5 * t.nb))
                     * ln(((c.n_ref + 0.5) / (t.t_ref + 0.5 * t.nb))
                          / ((c.n_cur + 0.5) / (t.t_cur + 0.5 * t.nb)))), 6) AS psi
    FROM counts c JOIN tot t USING (event_type)
    GROUP BY 1
    """,
)
def q_drift_psi(spark, sf_dir):
    """Distribution-drift monitor: population stability index between a
    reference and a current period, per event type, over fixed-width
    value bins with Laplace smoothing (so empty bins never hit ln(0)).
    Two aggregations over one binned pass + a broadcast-sized totals
    join - the drift check a training pipeline runs before trusting a
    new data drop. PSI > 0.25 conventionally flags actionable drift."""
    ev = t(spark, sf_dir, "events")
    binned = ev.select(
        "event_type",
        (F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp")).cast("int").alias("is_ref"),
        F.floor(F.col("value") / 50.0).cast("int").alias("bin"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum("is_ref").alias("n_ref"), F.sum(1 - F.col("is_ref")).alias("n_cur")
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"),
        F.sum("n_cur").alias("t_cur"),
        F.count(F.lit(1)).alias("nb"),
    )
    # Totals via a window over the (tiny) per-bin counts instead of a
    # counts-with-tot self-join, whose two branches each re-scanned the
    # fact (2 scans -> 1).
    wts = Window.partitionBy("event_type")
    j = (
        counts.withColumn("t_ref", F.sum("n_ref").over(wts))
        .withColumn("t_cur", F.sum("n_cur").over(wts))
        .withColumn("nb", F.count(F.lit(1)).over(wts))
    )
    p_ref = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 0.5 * F.col("nb"))
    p_cur = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 0.5 * F.col("nb"))
    return j.groupBy("event_type").agg(
        F.round(F.sum((p_ref - p_cur) * F.log(p_ref / p_cur)), 6).alias("psi")
    )


@q(
    "q_array_ops",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
           round(CAST(list_sort(list_transform(embedding, x -> CAST(x AS DOUBLE)))[len(embedding)]
                 AS DOUBLE), 6) AS max_val,
           round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 6)
             AS head_sum
    FROM embeddings
    """,
)
def q_array_ops(spark, sf_dir):
    """Array-function family over the embedding column (F12 beyond
    JSON): size, element access, sort, slice, fold - all JVM-side
    higher-order expressions, zero Python."""
    emb = t(spark, sf_dir, "embeddings")
    xd = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at(xd, 1), 6).alias("first_val"),
        F.round(F.element_at(F.array_sort(xd), F.size("embedding")), 6).alias("max_val"),
        F.round(
            F.aggregate(F.slice(xd, 1, 8), F.lit(0.0), lambda a, b: a + b), 6
        ).alias("head_sum"),
    )


@q(
    "q_dedup_containment",
    f"""
    WITH {_SHINGLES_CTE},
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(common / sa.n, 6) AS containment
    FROM pairs JOIN sz sa ON sa.doc_id = doc_a
    WHERE round(common / sa.n, 6) >= 0.5
    """,
)
def q_dedup_containment(spark, sf_dir):
    """ASYMMETRIC containment |A∩B| / |A| (doc-inside-doc detection -
    catches a paragraph lifted into a larger page, which symmetric
    Jaccard dilutes below threshold). Directed pairs, so <> not <."""
    sh = D.shingle_table(t(spark, sf_dir, "documents"), n=3, max_df=100)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    return (
        common.join(sa, "doc_a")
        .withColumn("containment", F.round(F.col("common") / F.col("n_a"), 6))
        .filter(F.col("containment") >= 0.5)
        .select("doc_a", "doc_b", "containment")
    )


@q(
    "q_dedup_ppjoin",
    f"""
    WITH {_SHINGLES_CTE},
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, round(common / (sa.n + sb.n - common), 6) AS jaccard
    FROM pairs JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
    WHERE common * 5 >= 3 * (sa.n + sb.n - common)
    """,
)
def q_dedup_ppjoin(spark, sf_dir):
    """Jaccard>=0.6 pair join via PREFIX FILTERING (AllPairs/PPJoin,
    Bayardo et al. WWW'07): only each doc's n-ceil(t*n)+1 globally
    rarest shingles enter the candidate self-join, with an integer-
    exact size filter before verification. Same answer as the exact
    all-pairs oracle, but candidate generation is bounded by prefix
    co-occurrence instead of full shingle co-occurrence - the lossless
    EXACT counterpart to the probabilistic MinHash/LSH rung on the
    dedup ladder. Threshold carried as the rational 3/5 end-to-end:
    float ceil(0.6*5) = 4 would silently shorten prefixes and drop
    boundary pairs. keep_df=True reuses the df the pruning window
    already computed, saving a second shingle-keyed shuffle."""
    sh = D.shingle_table(t(spark, sf_dir, "documents"), n=3, max_df=100, keep_df=True)
    return D.prefix_filtered_pairs(sh, t_num=3, t_den=5)


@q(
    "q_dedup_minhash_estimate",
    f"""
    WITH {_SHINGLES_CTE},
    sig AS (
      SELECT doc_id,
             min(md5('0|' || shingle)) AS mh_0, min(md5('1|' || shingle)) AS mh_1,
             min(md5('2|' || shingle)) AS mh_2, min(md5('3|' || shingle)) AS mh_3,
             min(md5('4|' || shingle)) AS mh_4, min(md5('5|' || shingle)) AS mh_5
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, mh_0 || mh_1 AS band_key FROM sig
      UNION ALL SELECT doc_id, 1, mh_2 || mh_3 FROM sig
      UNION ALL SELECT doc_id, 2, mh_4 || mh_5 FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           round(((CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.mh_2 = sb.mh_2 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.mh_3 = sb.mh_3 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.mh_4 = sb.mh_4 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.mh_5 = sb.mh_5 THEN 1 ELSE 0 END)) / 6.0, 6)
             AS jaccard_est
    FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
                JOIN sig sb ON sb.doc_id = c.doc_b
    """,
)
def q_dedup_minhash_estimate(spark, sf_dir):
    """MinHash-as-ESTIMATOR: for every LSH candidate pair, estimate
    Jaccard as the fraction of agreeing signature components (the
    unbiased estimator LSH banding is built on) - signature-width
    work per pair instead of re-intersecting shingle sets. The exact
    verification (q_dedup_lsh_verified) is the expensive alternative
    this estimate lets you skip below a cutoff."""
    sh = D.shingle_table(t(spark, sf_dir, "documents"), n=3, max_df=100)
    sig = D.minhash_signatures(sh, num_hashes=6)
    cand = D.lsh_candidate_pairs(sig, num_hashes=6, band_size=2)
    sa = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"mh_{i}").alias(f"a{i}") for i in range(6)])
    sb = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"mh_{i}").alias(f"b{i}") for i in range(6)])
    agree = sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(6))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(agree / 6.0, 6).alias("jaccard_est"))
    )


# ---------------------------------------------------------------------------
# LLM training-data pipeline compositions: the filter -> dedup -> pack
# -> export chain a pretraining corpus actually runs, each stage a
# declarative plan over the documents table.


@q(
    "q_docs_quality_filter",
    """
    WITH feat AS (
      SELECT doc_id, md5(text) AS text_hash,
             length(text) AS nc,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','a','and','of','to','in','is','it'))) AS sw_hits,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct
      FROM documents
    ),
    scored AS (
      SELECT doc_id, text_hash, n_tokens,
             round(CAST(sw_hits AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
             CASE WHEN sw_hits >= 1 THEN 'en' ELSE 'unk' END AS lang
      FROM feat
      WHERE round(CAST(punct AS DOUBLE) / nc, 6) <= 0.25
    ),
    kept AS (
      SELECT *, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
      FROM scored
      WHERE lang = 'en' AND n_tokens BETWEEN 5 AND 2000 AND stopword_ratio >= 0.05
    )
    SELECT doc_id, n_tokens, stopword_ratio FROM kept WHERE rn = 1
    """,
)
def q_docs_quality_filter(spark, sf_dir):
    """FineWeb-style quality filter chain in ONE declarative plan:
    language-ID gate, token-length band, stopword-ratio floor,
    punctuation-ratio ceiling, then exact-dup removal (first doc per
    content hash wins). Every predicate is a JVM-side expression over
    one scan + one window - the shape that survives 100 TB: no UDFs,
    no self-joins, filters fused by Catalyst before the dedup window's
    single shuffle."""
    docs = t(spark, sf_dir, "documents")
    qf = TX.quality_features(F.col("text"))
    scored = docs.select(
        "doc_id",
        F.md5("text").alias("text_hash"),
        qf["n_tokens"].alias("n_tokens"),
        qf["stopword_ratio"].alias("stopword_ratio"),
        qf["punct_ratio"].alias("punct_ratio"),
        TX.predicted_lang(F.col("text")).alias("lang"),
    ).filter(
        (F.col("lang") == "en")
        & F.col("n_tokens").between(5, 2000)
        & (F.col("stopword_ratio") >= 0.05)
        & (F.col("punct_ratio") <= 0.25)
    )
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_tokens", "stopword_ratio")
    )


@q(
    "q_dedup_keep_best",
    """
    WITH fp AS (
      SELECT doc_id, n_chars, md5(lower(trim(text))) AS fp FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_chars, fp,
             row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY fp) AS n_copies
      FROM fp
    )
    SELECT fp AS fingerprint, doc_id AS kept_doc_id, n_chars, CAST(n_copies AS BIGINT) AS n_copies
    FROM ranked WHERE rn = 1
    """,
)
def q_dedup_keep_best(spark, sf_dir):
    """Dedup with a KEEP-BEST policy: group by the normalized content
    fingerprint (case/whitespace-invariant, so trivially-reformatted
    copies collapse) and keep the highest-quality member - longest
    n_chars, doc_id as the deterministic tiebreak. One window over one
    shuffle on the fingerprint; the canonical-selection pattern every
    pretraining dedup pass needs (min-doc_id 'first wins' is
    q_dedup_exact; this is the quality-aware variant)."""
    docs = t(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", "n_chars", TX.fingerprint_md5(F.col("text")).alias("fingerprint")
    )
    w = Window.partitionBy("fingerprint").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    wc = Window.partitionBy("fingerprint")
    return (
        fp.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select("fingerprint", F.col("doc_id").alias("kept_doc_id"), "n_chars", "n_copies")
    )


@q(
    "q_text_ngrams",
    """
    WITH tok AS (SELECT string_split(text, ' ') AS toks FROM documents),
    grams AS (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM tok WHERE len(toks) >= 2
    )
    SELECT gram, count(*) AS n FROM grams GROUP BY gram
    ORDER BY n DESC, gram LIMIT 20
    """,
)
def q_text_ngrams(spark, sf_dir):
    """Corpus-wide bigram frequency top-20 (every occurrence counts,
    unlike the distinct shingles dedup uses). Token arrays are
    projected BEFORE the transform lambda (Catalyst does not CSE
    split() inside higher-order functions), grams explode into a
    map-side-combined count, and the top-20 is TakeOrdered with the
    gram itself as tiebreak - no global sort."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(TX.tokens_ws(F.col("text")).alias("toks")).filter(F.size("toks") >= 2)
    grams = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("toks", i), F.element_at("toks", i + F.lit(1))
                ),
            )
        ).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("gram"))
        .limit(20)
    )


@q(
    "q_pack_sequences",
    """
    WITH tok AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_tok,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 8 AS shard,
             md5(CAST(doc_id AS VARCHAR)) AS ord_key
      FROM documents
    ),
    packed AS (
      SELECT shard, n_tok,
             CAST(floor((sum(n_tok) OVER (PARTITION BY shard ORDER BY ord_key, doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tok) / 512.0) AS BIGINT) AS pack_id
      FROM tok
    )
    SELECT shard, pack_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM packed GROUP BY shard, pack_id
    """,
)
def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing - the GPT-style pretraining
    step that streams shuffled documents into fixed 512-token context
    windows. Scale shape: documents are hash-sharded (md5 -> 8 shards)
    and packed INDEPENDENTLY per shard, so the running-sum window
    parallelizes across shards instead of forcing a single global
    ordering partition; each doc lands in the pack where its first
    token falls (docs may straddle pack boundaries, exactly like
    token-stream chunking). Deterministic md5 ordering = the
    reproducible corpus shuffle a replayable pipeline wants."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        TX.token_count_bpeish(F.col("text")).alias("n_tok"),
        (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("int") % 8).alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("ord_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = tok.withColumn(
        "pack_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / 512.0).cast("bigint"),
    )
    return packed.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("total_tokens")
    )


@q(
    "q_text_contamination",
    """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
      FROM tok WHERE len(toks) >= 3
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0),
    hits AS (
      SELECT g.doc_id, count(*) AS n_grams,
             CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
      FROM grams g LEFT JOIN bench b ON g.gram = b.gram
      WHERE g.doc_id % 50 <> 0
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_shared, n_grams,
           round(CAST(n_shared AS DOUBLE) / n_grams, 6) AS contamination
    FROM hits WHERE n_shared > 0
    """,
)
def q_text_contamination(spark, sf_dir):
    """Benchmark-contamination check: fraction of each training doc's
    distinct 3-gram shingles that also appear in a held-out benchmark
    set (here: every 50th doc as the stand-in benchmark). The benchmark
    gram set is dimension-sized by construction and explicitly
    broadcast, so the check is one scan of the corpus grams + a
    broadcast hash join - no shuffle of the big side, the only viable
    shape when the corpus is 100 TB and the benchmark is megabytes."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TX.tokens_ws(F.col("text")).alias("toks"))
    grams = toks.select(
        "doc_id", F.explode(TX.word_shingles(F.col("toks"), n=3)).alias("gram")
    )
    bench = grams.filter(F.col("doc_id") % 50 == 0).select("gram").distinct()
    train = grams.filter(F.col("doc_id") % 50 != 0)
    flagged = train.join(
        F.broadcast(bench.withColumn("__hit", F.lit(1))), "gram", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_shared"),
        )
        .filter(F.col("n_shared") > 0)
        .select(
            "doc_id",
            "n_shared",
            "n_grams",
            F.round(F.try_divide("n_shared", "n_grams"), 6).alias("contamination"),
        )
    )


@q(
    "q_sample_mix",
    """
    WITH keyed AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 10000 AS bucket,
             CASE lang WHEN 'en' THEN 10000 WHEN 'de' THEN 5000 WHEN 'fr' THEN 5000
                       WHEN 'es' THEN 2500 WHEN 'zh' THEN 2500 ELSE 0 END AS keep_below
      FROM documents
    )
    SELECT doc_id, lang FROM keyed WHERE bucket < keep_below
    """,
)
def q_sample_mix(spark, sf_dir):
    """Training-mix resampling: downsample each language to its target
    weight (en 1.0, de/fr 0.5, es/zh 0.25) with a DETERMINISTIC hash
    gate - keep iff md5(doc_id) mod 10k falls under the stratum's
    threshold. Unlike sampleBy's RNG this is reproducible across runs,
    engines and partitionings (same property as q_sample_capped), it
    needs no per-stratum counts, and it is a pure narrow filter - no
    shuffle at any corpus size. The weight map is a literal CASE,
    broadcast-free."""
    docs = t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "int"
    ) % 10000
    keep_below = (
        F.when(F.col("lang") == "en", 10000)
        .when(F.col("lang").isin("de", "fr"), 5000)
        .when(F.col("lang").isin("es", "zh"), 2500)
        .otherwise(0)
    )
    return docs.filter(bucket < keep_below).select("doc_id", "lang")


@q(
    "q_docs_repetition",
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    base AS (
      SELECT doc_id, len(toks) AS n_toks,
             round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS distinct_ratio,
             toks
      FROM tok WHERE len(toks) >= 2
    ),
    grams AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                                           i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM base
    ),
    gcnt AS (
      SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2
    ),
    share AS (
      SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_share
      FROM gcnt GROUP BY doc_id
    )
    SELECT b.doc_id, b.distinct_ratio, s.top_bigram_share,
           CASE WHEN s.top_bigram_share > 0.2 OR b.distinct_ratio < 0.5
                THEN 1 ELSE 0 END AS is_repetitive
    FROM base b JOIN share s USING (doc_id)
    """,
)
def q_docs_repetition(spark, sf_dir):
    """Intra-document repetition quality signals (Gopher-style rules):
    distinct-token ratio (pure array expression, zero shuffle) and the
    share of the most frequent bigram (explode -> per-doc count ->
    per-doc max/sum; both aggregations shuffle on doc_id so AQE can
    coalesce them into one exchange reuse). Docs dominated by one
    repeated phrase or with low vocabulary are flagged - the
    boilerplate/spam filter every crawl corpus applies before
    training."""
    docs = t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", TX.tokens_ws(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 2)
    base = base.withColumn(
        "distinct_ratio",
        F.round(F.try_divide(F.size(F.array_distinct("toks")), F.size("toks")), 6),
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("toks", i), F.element_at("toks", i + F.lit(1))
                ),
            )
        ).alias("gram"),
    )
    share = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.round(F.try_divide(F.max("c"), F.sum("c")), 6).alias("top_bigram_share"))
    )
    return (
        base.select("doc_id", "distinct_ratio")
        .join(share, "doc_id")
        .select(
            "doc_id",
            "distinct_ratio",
            "top_bigram_share",
            F.when(
                (F.col("top_bigram_share") > 0.2) | (F.col("distinct_ratio") < 0.5), 1
            )
            .otherwise(0)
            .alias("is_repetitive"),
        )
    )


@q(
    "q_text_piiscrub",
    """
    WITH enriched AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 7 = 0
                          THEN ' contact user' || CAST(doc_id AS VARCHAR) ||
                               '@example.com or call 5550001234'
                          ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+')) AS INT)
             + CAST(len(regexp_extract_all(text, '[0-9]{7,}')) AS INT) AS n_redactions,
           md5(regexp_replace(regexp_replace(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
               '[0-9]{7,}', '<NUM>', 'g')) AS scrubbed_hash
    FROM enriched
    """,
)
def q_text_piiscrub(spark, sf_dir):
    """PII scrubbing pass: redact email addresses and long digit runs
    with typed placeholders, reporting the redaction count per doc and
    the hash of the scrubbed text (hash instead of the full text keeps
    the oracle compact). Pure regexp expressions - codegen'd JVM-side,
    a narrow map at any scale. The corpus has no organic PII, so a
    deterministic contact line is appended to every 7th doc to prove
    the redaction actually fires (n_redactions = 2 there, 0 elsewhere)."""
    docs = t(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or call 5550001234"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    email_re = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+"
    num_re = "[0-9]{7,}"
    return enriched.select(
        "doc_id",
        (
            F.size(F.regexp_extract_all("text", F.lit(email_re), 0))
            + F.size(F.regexp_extract_all("text", F.lit(num_re), 0))
        ).alias("n_redactions"),
        F.md5(
            F.regexp_replace(
                F.regexp_replace("text", email_re, "<EMAIL>"), num_re, "<NUM>"
            )
        ).alias("scrubbed_hash"),
    )


_PAIR_COS = (
    f"round({_DOT.format(a='ea.embedding', b='eb.embedding')} / "
    f"(sqrt({_DOT.format(a='ea.embedding', b='ea.embedding')}) * "
    f"sqrt({_DOT.format(a='eb.embedding', b='eb.embedding')})), 6)"
)


@q(
    "q_dedup_semantic",
    f"""
    WITH cent AS (
      SELECT label AS cell, u.pos AS pos, avg(u.val) AS cval
      FROM ({_UNNEST_EMB.format(id='label')}) GROUP BY label, u.pos
    ),
    emb AS (
      SELECT vec_id, u.pos AS pos, u.val AS v
      FROM ({_UNNEST_EMB.format(id='vec_id')})
    ),
    scores AS (
      SELECT e.vec_id, c.cell,
             round(sum(e.v * c.cval) /
                   (sqrt(sum(e.v * e.v)) * sqrt(sum(c.cval * c.cval))), 6) AS cell_cosine
      FROM emb e JOIN cent c USING (pos)
      GROUP BY e.vec_id, c.cell
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cell_cosine DESC, cell) AS rn
        FROM scores
      ) WHERE rn = 1
    ),
    dups AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE {_PAIR_COS} >= 0.4
    )
    SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS kept
    FROM assign a LEFT JOIN dups d USING (vec_id)
    """,
)
def q_dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    confines the quadratic cosine comparison inside clusters - assign
    every embedding to its nearest deterministic centroid cell, drop
    vectors with cosine >= 0.4 to a lower-id vector in the SAME cell.
    The cluster stage is what makes embedding dedup feasible at 100 TB:
    the pair join shuffles on cell, never all-pairs."""
    return S.semantic_dedup(t(spark, sf_dir, "embeddings"), threshold=0.4)


@q(
    "q_join_fuzzy",
    """
    WITH v AS (
      SELECT c_custkey, c_name,
             unnest(list_distinct(list_append(
               list_transform(generate_series(1, len(c_name)),
                              i -> substr(c_name, 1, i-1) || substr(c_name, i+1, len(c_name))),
               c_name))) AS variant
      FROM customer
    )
    SELECT DISTINCT a.c_custkey AS id_a, a.c_name AS name_a,
           b.c_custkey AS id_b, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_distance
    FROM v a JOIN v b ON a.variant = b.variant AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q_join_fuzzy(spark, sf_dir):
    """Fuzzy self-join on customer names at edit distance <= 1 via
    FastSS deletion-neighborhood blocking - exact equi-join on
    single-deletion variants (linear index, len+1 keys/row), then one
    levenshtein verification per distinct candidate pair. Entity
    resolution without an all-pairs stage."""
    c = t(spark, sf_dir, "customer")
    return J.fuzzy_join_ed1(c, c, "c_custkey", "c_name", "c_custkey", "c_name")


def _winnow_skew_guard(spark, sf_dir) -> bool:
    """Size gate for winnow_pairs' count-gated collect (r16): the
    guard's count gate and semi join cost ~20% at sf0.1 and buy bounded
    aggregation buffers, so it turns on only where a degenerate
    boilerplate fingerprint could actually carry an OOM-sized doc set.
    Threshold override: SPARK_GRAFT_WINNOW_GUARD_BYTES (same pattern as
    the q_sql_min_cost_supplier pre-filter gate)."""
    import os as _os

    from smart_energy_consumption_analytics_using_big_data_spark.sources.catalog import (
        table_size_bytes,
    )

    threshold = int(
        _os.environ.get("SPARK_GRAFT_WINNOW_GUARD_BYTES", 64 * 1024 * 1024)
    )
    n = table_size_bytes(spark, sf_dir, "documents")
    return n is not None and n >= threshold


@q(
    "q_dedup_winnow",
    """
    WITH g AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(text) - 7),
               i -> CAST(concat('0x', substr(md5(substr(text, i, 8)), 1, 8)) AS BIGINT)) AS grams
      FROM documents
      WHERE len(text) >= 23
    ),
    fps AS (
      SELECT DISTINCT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, len(grams) - 15),
               j -> list_min(list_slice(grams, j, j + 15))))) AS fp
      FROM g
    ),
    pruned AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM fps
      ) WHERE df <= 16
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def q_dedup_winnow(spark, sf_dir):
    """Exact-substring overlap detection via winnowing fingerprints
    (MOSS, Schleimer et al. 2003): min-hash-of-window selection
    guarantees any shared substring of >= w+k-1 = 23 chars surfaces a
    common fingerprint, at ~1/w the index of all-grams - the
    suffix-array-free way to run Lee et al.-style substring dedup as a
    pure equi-join pipeline. Boilerplate fingerprints df-pruned before
    the pair join."""
    return D.winnow_pairs(
        t(spark, sf_dir, "documents"), skew_guard=_winnow_skew_guard(spark, sf_dir)
    )


@q(
    "q_join_bloom",
    """
    SELECT l_returnflag, {rev} AS revenue, count(*) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """.format(rev=DSUM("l_extendedprice * (1 - l_discount)")),
)
def q_join_bloom(spark, sf_dir):
    """Bloom-pre-filtered fact join: the urgent-orders build side hashes
    into an 8 KiB bitmap tested on every lineitem row BEFORE the
    shuffle, so only ~selectivity of the fact table moves; the exact
    join then removes false positives, making the result bit-identical
    to the plain join - which is exactly what the oracle asserts. The
    explicit form of Spark's AQE runtime bloom filter, for when the
    build side is selective but not broadcast-small."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    joined = J.bloom_filtered_join(li, o, "l_orderkey", "o_orderkey")
    return joined.groupBy("l_returnflag").agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


def _pagerank_oracle(iters: int = 3, edges_head: str | None = None) -> str:
    """Unrolled fixed-iteration PageRank; `edges_head` supplies the
    WITH-clause CTEs ending in a symmetric edge table ``e(src, dst)``
    (default: the fuzzy-name graph)."""
    if edges_head is None:
        edges_head = """
    WITH v AS (
      SELECT c_custkey, c_name,
             unnest(list_distinct(list_append(
               list_transform(generate_series(1, len(c_name)),
                              i -> substr(c_name, 1, i-1) || substr(c_name, i+1, len(c_name))),
               c_name))) AS variant
      FROM customer
    ),
    pairs AS (
      SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM v a JOIN v b ON a.variant = b.variant AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    ),
    e AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    )
    """
    head = edges_head + """,
    nodes AS (SELECT DISTINCT src AS id FROM e),
    cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
    r0 AS (SELECT id, round(1.0 / (SELECT n FROM cnt), 12) AS rank FROM nodes)
    """
    for it in range(1, iters + 1):
        head += f""",
    c{it} AS (
      SELECT e.dst AS id,
             CAST(round(r.rank / d.deg, 12) AS DECIMAL(28,12)) AS c
      FROM e JOIN r{it - 1} r ON e.src = r.id JOIN deg d ON e.src = d.id
    ),
    r{it} AS (
      SELECT n.id,
             round(0.15 / (SELECT n FROM cnt)
                   + 0.85 * coalesce(CAST(s.s AS DOUBLE), 0.0), 12) AS rank
      FROM nodes n LEFT JOIN (SELECT id, SUM(c) AS s FROM c{it} GROUP BY id) s
        ON n.id = s.id
    )
    """
    return head + f"SELECT id, round(rank, 6) AS rank FROM r{iters}"


@q("q_graph_pagerank", _pagerank_oracle(3))
def q_graph_pagerank(spark, sf_dir):
    """Fixed-iteration (3) PageRank over the fuzzy-name similarity
    graph: symmetric edit-distance-1 edges from q_join_fuzzy's FastSS
    blocking, then rank = damped contribution routing - each round one
    equi-join on src + one shuffle on dst, contributions rounded and
    decimal-summed so the result is engine- and partitioning-exact.
    Centrality over a similarity graph ranks canonical-entity
    candidates (the most-connected name in each near-dup family)."""
    c = t(spark, sf_dir, "customer")
    pairs = J.fuzzy_join_ed1(c, c, "c_custkey", "c_name", "c_custkey", "c_name")
    # symmetrize via explode, not union: a union's two branches would
    # each replay the whole blocking join (no subplan CSE)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import pagerank

    return pagerank(edges, iters=3)


def _bfs_oracle(max_hops: int = 4, seed_mod: int = 10) -> str:
    """Unrolled bounded BFS over the co-purchase part graph: d{k} is
    the exact <=k-hop distance table, each round one join + one MIN."""
    head = """
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS id_a, b.l_partkey AS id_b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    d0 AS (
      SELECT DISTINCT src AS id, 0 AS dist FROM e WHERE src % {m} = 0
    )
    """.format(m=seed_mod)
    for it in range(1, max_hops + 1):
        head += f""",
    d{it} AS (
      SELECT id, min(dist) AS dist FROM (
        SELECT id, dist FROM d{it - 1}
        UNION ALL
        SELECT e.dst AS id, d.dist + 1 AS dist
        FROM e JOIN d{it - 1} d ON e.src = d.id
      ) GROUP BY id
    )
    """
    return head + f"SELECT id, dist FROM d{max_hops}"


@q("q_graph_bfs", _bfs_oracle(4))
def q_graph_bfs(spark, sf_dir):
    """Bounded multi-source BFS over the co-purchase part graph (the
    same edge source as q_graph_triangles/q_graph_clustering): hop
    distance from the ``id % 10 == 0`` seed parts, 4 unrolled
    min-relaxation rounds (join on src + MIN per node — unit-weight
    Bellman-Ford). The graph-traversal primitive behind blast-radius /
    related-product-neighborhood questions; all-integer, so the oracle
    is exact with no float discipline needed. (Originally ran on the
    fuzzy-name graph; the FastSS blocking build dominated the runtime
    ~2:1 over the traversal being measured, so the edge source moved
    to the one-equi-join co-purchase graph; r7 replaced that self-join
    with the in-row basket-pair build — the fact table now shuffles
    once, in the basket aggregation, instead of twice into a join;
    r9 fused pair dedup into bfs_hops' own id-repartition
    (dedupe=True), dropping the dedicated distinct exchange — BFS
    min-relaxation is duplicate-insensitive, so results are identical
    and the edge build is one exchange shorter; r16 folds the deduped
    edges into per-node adjacency arrays when the fact table clears a
    size gate, so the rounds join |V| rows instead of |E| — results
    byte-identical, crossover measured between 11 MB (sf0.1, slower)
    and 103 MB (10x graph, faster), OPTIMIZATION_r16.md shipped item 2;
    `SPARK_GRAFT_BFS_ADJ_BYTES` overrides the threshold for cluster
    deployments.)"""
    import os as _os

    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import (
        bfs_hops,
        copurchase_pairs,
    )
    from smart_energy_consumption_analytics_using_big_data_spark.sources.catalog import (
        table_size_bytes,
    )

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = copurchase_pairs(li, "l_orderkey", "l_partkey")
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")

    threshold = int(
        _os.environ.get("SPARK_GRAFT_BFS_ADJ_BYTES", 64 * 1024 * 1024)
    )
    li_bytes = table_size_bytes(spark, sf_dir, "lineitem")
    # symmetric_edges: this query explodes both orientations itself two
    # lines up, so the src-only seed scan is provably complete
    return bfs_hops(
        edges,
        seed_mod=10,
        max_hops=4,
        dedupe=True,
        symmetric_edges=True,
        adjacency=li_bytes is not None and li_bytes >= threshold,
    )


@q(
    "q_text_logprob",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
    freq AS (
      SELECT doc_id, token,
             CAST(count(*) OVER (PARTITION BY token) AS DOUBLE) AS tf
      FROM tok
    )
    SELECT doc_id,
           round(CAST(SUM(CAST(round(-ln(tf / (SELECT n FROM tot)), 12)
                              AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6)
             AS avg_neg_logprob,
           count(*) AS n_tokens
    FROM freq
    GROUP BY doc_id
    """,
)
def q_text_logprob(spark, sf_dir):
    """Unigram-LM perplexity proxy: per-doc mean -ln p(token) under the
    corpus unigram distribution - the cheap stand-in for the
    perplexity-filter stage of a pretraining pipeline (rare-token-heavy
    gibberish scores high, common fluent text low). One explode; token
    frequencies ride a window over the SAME exploded rows (no
    self-join, the q_text_tfidf trick) and the corpus total is a 1-row
    broadcast. ln of an exact-count ratio -> cross-engine identical."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(TX.tokens_ws(F.col("text"))).alias("token")
    )
    tot = tok.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    freq = tok.withColumn(
        "tf", F.count(F.lit(1)).over(Window.partitionBy("token")).cast("double")
    )
    return (
        freq.crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.round(-F.log(F.col("tf") / F.col("__n")), 12).cast(
                        "decimal(28,12)"
                    )
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_neg_logprob"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# product quantization (SS7 similarity-search scale path, stage 3:
# exact -> LSH -> IVF -> PQ codes)

_PQ_CB_CTES = f"""
    psub AS (
      SELECT vec_id, CAST((u.pos - 1) // 8 AS INT) AS s,
             (u.pos - 1) % 8 AS p, u.val AS v,
             CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS INT) % 16
               AS code0
      FROM ({_UNNEST_EMB.format(id='vec_id')})
    ),
    cb AS (
      SELECT s, code0 AS code, p, avg(v) AS cval
      FROM psub GROUP BY s, code0, p
    )
"""

_PQ_ENC_CTES = f"""
    {_PQ_CB_CTES},
    enc0 AS (
      SELECT psub.vec_id, psub.s, cb.code,
             round(sum((psub.v - cb.cval) * (psub.v - cb.cval)), 6) AS d2
      FROM psub JOIN cb ON psub.s = cb.s AND psub.p = cb.p
      GROUP BY psub.vec_id, psub.s, cb.code
    ),
    enc AS (
      SELECT vec_id, s, code, d2 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
        FROM enc0
      ) WHERE rn = 1
    )
"""


@q(
    "q_emb_pq_codebook",
    f"""
    WITH {_PQ_CB_CTES}
    SELECT s, code, p, round(cval, 6) AS cval
    FROM cb
    """,
)
def q_emb_pq_codebook(spark, sf_dir):
    """PQ codebook training (Jegou et al. 2011): m=8 subspaces x k=16
    centroids, one derandomized Lloyd step from md5(vec_id) hash init.
    One posexplode scan, map-side-combined means, m*k*sub_dim-row output
    - broadcast-sized at ANY corpus scale (codebook size is independent
    of N). Output is one SCALAR row per (s, code, p) centroid cell: the
    driver's hash comparator cannot hash array values, so the
    array-assembled form stays internal (`pq_codebook_arrays`)."""
    emb = t(spark, sf_dir, "embeddings")
    cb = S.pq_codebook(emb)
    return cb.select(
        "s",
        "code",
        (F.col("pos") % 8).alias("p"),
        F.round("cval", 6).alias("cval"),
    )


@q(
    "q_emb_pq_encode",
    f"""
    WITH {_PQ_ENC_CTES}
    SELECT vec_id, s, code, d2 FROM enc
    """,
)
def q_emb_pq_encode(spark, sf_dir):
    """PQ encode: each vector's m=8 nearest-centroid codes (64 floats ->
    8 bytes, 32x compression). One corpus scan sliced to m subspace rows,
    broadcast codebook join, k*sub_dim multiply-adds inside a single
    codegen'd zip_with/aggregate per candidate - the corpus never
    shuffles, and the argmin is a per-(vector, subspace) row_number."""
    return S.pq_encode(t(spark, sf_dir, "embeddings"))


@q(
    "q_emb_pq_search",
    f"""
    WITH {_PQ_ENC_CTES},
    qv AS (SELECT embedding AS qvec FROM embeddings ORDER BY vec_id LIMIT 1),
    qe AS (
      SELECT CAST((u.pos - 1) // 8 AS INT) AS s, (u.pos - 1) % 8 AS p,
             CAST(u.val AS DOUBLE) AS v
      FROM (SELECT unnest(list_transform(generate_series(1, len(qvec)),
                   i -> {{'pos': i, 'val': CAST(qvec[i] AS DOUBLE)}})) AS u FROM qv)
    ),
    dtab AS (
      SELECT cb.s, cb.code, sum((qe.v - cb.cval) * (qe.v - cb.cval)) AS dq
      FROM qe JOIN cb ON qe.s = cb.s AND qe.p = cb.p
      GROUP BY cb.s, cb.code
    )
    SELECT enc.vec_id, round(sum(dtab.dq), 6) AS adc_dist
    FROM enc JOIN dtab ON enc.s = dtab.s AND enc.code = dtab.code
    GROUP BY enc.vec_id
    ORDER BY adc_dist, enc.vec_id LIMIT 10
    """,
)
def q_emb_pq_search(spark, sf_dir):
    """PQ asymmetric-distance (ADC) top-10: query-to-centroid distances
    precomputed once into a broadcast m*k table, every corpus vector
    scored as a sum of m=8 table lookups over its codes - query-time
    touches only the 4-byte codes, the property that makes PQ the
    standard billion-vector search layout. TakeOrdered top-k, no
    global sort."""
    emb = t(spark, sf_dir, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    return S.pq_search_adc(emb, query)


# ---------------------------------------------------------------------------
# document chunking (training-data prep: fixed-token windows w/ overlap)


@q(
    "q_text_chunk",
    """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    c AS (
      SELECT doc_id, toks,
             CAST(unnest(generate_series(0,
               CAST((greatest(len(toks) - 40, 0) + 29) // 30 AS INT))) AS INT) AS chunk_id
      FROM tok WHERE len(toks) >= 1
    )
    SELECT doc_id, chunk_id, chunk_id * 30 + 1 AS start_tok,
           CAST(len(list_slice(toks, chunk_id * 30 + 1, chunk_id * 30 + 40)) AS INT)
             AS n_tok,
           md5(array_to_string(list_slice(toks, chunk_id * 30 + 1, chunk_id * 30 + 40),
               ' ')) AS chunk_hash
    FROM c
    """,
)
def q_text_chunk(spark, sf_dir):
    """Fixed-size token chunking with overlap (size=40, stride=30 - the
    sliding-window split every context-bounded training/embedding
    pipeline runs before tokenization). Chunk COUNT is computed
    arithmetically and exploded (no per-token explode: rows out =
    chunks, not tokens), each chunk is a slice of the pre-split token
    array, and the content travels as md5(chunk_text) so the result
    stays narrow while still value-checking the exact chunk bytes.
    Trailing chunks shorter than the window are kept (n_tok < 40)."""
    SIZE, STRIDE = 40, 30
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", TX.tokens_ws(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 1
    )
    n_chunks_last = F.floor(
        (F.greatest(F.size("toks") - SIZE, F.lit(0)) + STRIDE - 1) / STRIDE
    ).cast("int")
    c = tok.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks_last)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * STRIDE + 1
    ctoks = F.slice("toks", start, F.lit(SIZE))
    return c.select(
        "doc_id",
        "chunk_id",
        start.alias("start_tok"),
        F.size(ctoks).alias("n_tok"),
        F.md5(F.concat_ws(" ", ctoks)).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# data selection (DSIR) + batched kNN join (round 3)


@q(
    "q_sample_dsir",
    """
    WITH tok AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS t,
             unnest(string_split(text, ' ')) AS tk
      FROM documents
    ),
    dbc AS (
      SELECT doc_id, t,
             CAST(concat('0x', substr(md5(tk), 1, 8)) AS BIGINT) % 1024 AS bucket,
             count(*) AS n
      FROM tok GROUP BY 1, 2, 3
    ),
    counts AS (
      SELECT bucket, sum(n * t) AS n_target, sum(n) AS n_raw
      FROM dbc GROUP BY bucket
    ),
    tot AS (SELECT sum(n_target) AS tt, sum(n_raw) AS rr FROM counts),
    ratio AS (
      SELECT bucket,
             round(ln((n_target + 1) / (tt + 1024.0))
                   - ln((n_raw + 1) / (rr + 1024.0)), 12) AS log_ratio
      FROM counts CROSS JOIN tot
    )
    SELECT dbc.doc_id,
           round(CAST(SUM(CAST(round(ratio.log_ratio * dbc.n, 12)
                               AS DECIMAL(28,12))) AS DOUBLE)
                 / sum(dbc.n), 6) AS dsir_weight
    FROM dbc JOIN ratio USING (bucket)
    GROUP BY dbc.doc_id
    ORDER BY dsir_weight DESC, dbc.doc_id LIMIT 100
    """,
)
def q_sample_dsir(spark, sf_dir):
    """DSIR-style importance selection (Xie et al. 2023): hashed-unigram
    log-ratio weights against an in-corpus target slice (lang='en'),
    top-100 most target-like documents. Ratio table is 1024 rows ->
    broadcast; token stream never shuffles (ext/selection.py)."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext.selection import dsir_select

    docs = t(spark, sf_dir, "documents")
    return dsir_select(docs, F.col("lang") == "en", k=100, n_buckets=1024)


@q(
    "q_sim_knn_join",
    f"""
    WITH qs AS (SELECT vec_id AS query_id, embedding AS qvec
                FROM embeddings WHERE vec_id < 5),
    corpus AS (SELECT vec_id AS neighbor_id, embedding FROM embeddings
               WHERE vec_id >= 5),
    scored AS (
      SELECT qs.query_id, corpus.neighbor_id,
             round({_DOT.format(a='corpus.embedding', b='qs.qvec')} /
                   (sqrt({_DOT.format(a='corpus.embedding', b='corpus.embedding')}) *
                    sqrt({_DOT.format(a='qs.qvec', b='qs.qvec')})), 6) AS cosine
      FROM corpus CROSS JOIN qs
    ),
    ranked AS (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER)
               AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
    """,
)
def q_sim_knn_join(spark, sf_dir):
    """Batched exact kNN join: top-3 cosine neighbors for EVERY query
    in one pass (broadcast query batch, map-side scoring, salted
    two-stage grouped top-k so no window partition sorts the whole
    corpus; ext/similarity.knn_join)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    return S.knn_join(corpus, queries, k=3)


@q("q_dedup_winnow_fast")  # rows-only: xxhash64 not reproducible in DuckDB
def q_dedup_winnow_fast(spark, sf_dir):
    """Winnowing substring dedup on the xxhash64 fast path — the
    production hash for the heaviest bench operator (one native 64-bit
    hash per character k-gram instead of a full md5 digest, ~3x
    cheaper, same winnowing guarantee). Pair semantics pytest-verified
    against the md5 path on exact-duplicate fixtures; the md5 variant
    (q_dedup_winnow) remains the oracled baseline."""
    return D.winnow_pairs(
        t(spark, sf_dir, "documents"),
        hash_fn="xxhash64",
        skew_guard=_winnow_skew_guard(spark, sf_dir),
    )


@q("q_dedup_winnow_arrow")  # rows-only: numpy rolling hash not in DuckDB
def q_dedup_winnow_arrow(spark, sf_dir):
    """Winnowing substring dedup on the O(n) Arrow path (the VERDICT
    r3 item-8 prototype, now the measured production winner): per
    Arrow batch, a vectorized polynomial rolling hash + van Herk/
    Gil-Werman sliding min replace the native O(n*w) slice/array_min —
    5x faster at sf0.1 (PERFORMANCE.md round 4), same df-pruned pair
    join downstream. Guarantee invariants and brute-force hash parity
    are pinned by tests/test_winnow_arrow.py; the md5 variant
    (q_dedup_winnow) remains the oracled baseline."""
    return D.winnow_pairs(
        t(spark, sf_dir, "documents"),
        hash_fn="arrow",
        skew_guard=_winnow_skew_guard(spark, sf_dir),
    )


@q("q_dedup_simhash_arrow")  # rows-only: siphash bit family not in DuckDB
def q_dedup_simhash_arrow(spark, sf_dir):
    """SimHash near-dup candidates on the Arrow signature path: per-
    batch vectorized token hashing + np.add.reduceat bit sums produce
    the same 32-bit 0/1 fingerprint shape, so the SHARED pigeonhole-
    banding pair join (simhash_candidate_pairs) applies unchanged.

    Measured LIKE-FOR-LIKE at sf0.1 (n=3 medians, round 6 — the r5
    bench compared this fingerprints+pairs entry against the
    fingerprints-only native entry and looked like a regression):
    fingerprint stage 0.58 s Arrow vs 2.99 s native (5.1x); through
    the identical pair join 1.33 s vs 3.12 s (2.3x). Invariants pinned
    in tests/test_minhash_arrow.py; md5 path (q_dedup_simhash) stays
    the oracled baseline."""
    # lazy-checkpoint the fingerprint table (r15): the block-banding
    # self-join consumes it on both sides and Spark does not CSE the
    # branches — without materialization the vectorized Python
    # signature kernel ran twice per call. One row per document, so
    # the blocks are tiny; same-session interleaved A/B at sf0.1:
    # 3.40 -> 1.48 s median, 5/5 reps faster, identical pairs
    # (OPTIMIZATION_r15.md). The md5 twin (q_dedup_simhash_pairs)
    # stays unmaterialized — re-probed this round, a wash (JVM
    # recompute is cheaper than the checkpoint write, the r4 lesson).
    fps = D.simhash_arrow(t(spark, sf_dir, "documents")).localCheckpoint(eager=False)
    return D.simhash_candidate_pairs(fps)


@q("q_dedup_minhash_arrow")  # rows-only: siphash signatures not in DuckDB
def q_dedup_minhash_arrow(spark, sf_dir):
    """Full Arrow-path MinHash near-dup pipeline: vectorized per-batch
    signatures (one cython siphash call per Arrow batch + splitmix64
    hash family + minimum.reduceat — the signature stage does NOT
    shuffle, vs the native path's corpus-sized shingle explode +
    groupBy), then the SHARED banding/bucket join, then exact n-gram
    Jaccard verification of candidates in a second Arrow pass. The
    verify-stage jaccard values are hash-family-independent and are
    pinned equal to the oracled jaccard_pairs numbers in
    tests/test_minhash_arrow.py; candidate recall is what the hash
    family changes (rows-only, like every non-md5 hash path)."""
    return D.minhash_lsh_arrow(t(spark, sf_dir, "documents"), min_jaccard=0.2)


@q(
    "q_drift_ks",
    """
    WITH binned AS (
      SELECT CAST(floor(value / 25.0) AS INTEGER) AS bin,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    counts AS (
      SELECT bin, sum(a) AS na, sum(b) AS nb FROM binned GROUP BY bin
    ),
    cum AS (
      SELECT bin,
             sum(na) OVER (ORDER BY bin) AS ca,
             sum(nb) OVER (ORDER BY bin) AS cb,
             sum(na) OVER () AS ta, sum(nb) OVER () AS tb
      FROM counts
    )
    SELECT round(max(abs(CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb)), 6)
             AS ks_stat,
           CAST(max(ta) AS BIGINT) AS n_ref, CAST(max(tb) AS BIGINT) AS n_cur
    FROM cum
    """,
)
def q_drift_ks(spark, sf_dir):
    """Binned two-sample Kolmogorov-Smirnov statistic (click vs
    purchase value distributions): max CDF gap over fixed-width bins.
    The exact KS needs a GLOBAL sort of both samples - a non-starter at
    100 TB - but binned KS aggregates to a ~40-row bin table first, so
    the ordered window runs over bins, not rows (same design as
    q_drift_psi; the bin width bounds the statistic's error). One scan,
    one tiny window."""
    ev = t(spark, sf_dir, "events")
    binned = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        F.floor(F.col("value") / 25.0).cast("int").alias("bin"),
        (F.col("event_type") == "click").cast("int").alias("a"),
        (F.col("event_type") == "purchase").cast("int").alias("b"),
    )
    counts = binned.groupBy("bin").agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    # ordered + unbounded windows over the BIN table only (tiny)
    w_ord = Window.orderBy("bin")
    w_all = Window.partitionBy()
    cum = counts.select(
        (F.sum("na").over(w_ord).cast("double") / F.sum("na").over(w_all)).alias("fa"),
        (F.sum("nb").over(w_ord).cast("double") / F.sum("nb").over(w_all)).alias("fb"),
        F.sum("na").over(w_all).alias("ta"),
        F.sum("nb").over(w_all).alias("tb"),
    )
    return cum.agg(
        F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("ks_stat"),
        F.max("ta").alias("n_ref"),
        F.max("tb").alias("n_cur"),
    )


@q(
    "q_snapshot_diff",
    """
    WITH old AS (
      SELECT event_id, event_type, round(value, 6) AS value FROM events
    ),
    new AS (
      SELECT event_id, event_type,
             round(CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END, 6)
               AS value
      FROM events WHERE event_id % 17 <> 3
      UNION ALL
      SELECT event_id + 1000000000, 'inserted', round(value, 6)
      FROM events WHERE event_id % 100 = 7
    )
    SELECT CASE WHEN o.event_id IS NULL THEN 'added'
                WHEN n.event_id IS NULL THEN 'removed'
                WHEN o.value <> n.value OR o.event_type <> n.event_type
                  THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           count(*) AS n
    FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
    GROUP BY 1
    """,
)
def q_snapshot_diff(spark, sf_dir):
    """Snapshot diff (table-version comparison / CDC backfill audit):
    classify every key of two table versions as added / removed /
    changed / unchanged in ONE full outer join + rollup - the
    data-reconciliation primitive for validating an incremental
    pipeline against a rebuild. Both versions shuffle once on the key;
    at scale pre-bucket both snapshots on event_id to make the diff
    co-located and shuffle-free."""
    ev = t(spark, sf_dir, "events")
    old = ev.select("event_id", "event_type", F.round("value", 6).alias("value"))
    new = (
        ev.filter(F.col("event_id") % 17 != 3)
        .select(
            "event_id",
            "event_type",
            F.round(
                F.when(F.col("event_id") % 10 == 0, F.col("value") * 2).otherwise(
                    F.col("value")
                ),
                6,
            ).alias("value"),
        )
        .unionByName(
            ev.filter(F.col("event_id") % 100 == 7).select(
                (F.col("event_id") + 1000000000).alias("event_id"),
                F.lit("inserted").alias("event_type"),
                F.round("value", 6).alias("value"),
            )
        )
    )
    o, n = old.alias("o"), new.alias("n")
    j = o.join(n, F.col("o.event_id") == F.col("n.event_id"), "full_outer")
    change = (
        F.when(F.col("o.event_id").isNull(), "added")
        .when(F.col("n.event_id").isNull(), "removed")
        .when(
            (F.col("o.value") != F.col("n.value"))
            | (F.col("o.event_type") != F.col("n.event_type")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return j.groupBy(change.alias("change_type")).agg(F.count(F.lit(1)).alias("n"))


@q(
    "q_dedup_lsh_incremental",
    f"""
    WITH {_SHINGLES_CTE},
    sig AS (
      SELECT doc_id,
             min(md5('0|' || shingle)) AS mh_0, min(md5('1|' || shingle)) AS mh_1,
             min(md5('2|' || shingle)) AS mh_2, min(md5('3|' || shingle)) AS mh_3,
             min(md5('4|' || shingle)) AS mh_4, min(md5('5|' || shingle)) AS mh_5
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, mh_0 || mh_1 AS band_key FROM sig
      UNION ALL SELECT doc_id, 1, mh_2 || mh_3 FROM sig
      UNION ALL SELECT doc_id, 2, mh_4 || mh_5 FROM sig
    )
    SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
    FROM bands n JOIN bands h
      ON n.band = h.band AND n.band_key = h.band_key
    WHERE n.doc_id >= 250 AND h.doc_id < 250
    """,
)
def q_dedup_lsh_incremental(spark, sf_dir):
    """Incremental near-dup: the NEW batch (doc_id >= 250) LSH-checked
    against the HISTORY index (doc_id < 250) only — history x history
    pairs are never generated, so nightly-ingest dedup cost follows the
    new batch, not the accumulated corpus
    (ext/dedup.lsh_incremental_candidates)."""
    docs = t(spark, sf_dir, "documents")
    sh = D.shingle_table(docs, n=3, max_df=100)
    sig = D.minhash_signatures(sh, num_hashes=6)
    hist = sig.filter(F.col("doc_id") < 250)
    new = sig.filter(F.col("doc_id") >= 250)
    return D.lsh_incremental_candidates(new, hist)


@q(
    "q_text_normalize",
    """
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g')) AS norm_text,
           CAST(len(trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS INTEGER) AS n_chars
    FROM documents
    """,
)
def q_text_normalize(spark, sf_dir):
    """Text normalization (the first stage of every dedup/quality
    pipeline): lowercase, strip non-alphanumerics, collapse whitespace,
    trim — pure JVM regexp expressions in one projection, no shuffle.
    Normalizing BEFORE hashing is what makes exact-dedup robust to
    case/punctuation variants."""
    docs = t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return docs.select(
        "doc_id", norm.alias("norm_text"), F.length(norm).alias("n_chars")
    )


@q(
    "q_agg_winsorized",
    """
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           round(avg(value), 6) AS raw_mean,
           round(avg(least(greatest(e.value, b.lo), b.hi)), 6) AS winsorized_mean,
           CAST(sum(CASE WHEN e.value < b.lo OR e.value > b.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clamped
    FROM events e JOIN b USING (event_type)
    GROUP BY 1
    """,
)
def q_agg_winsorized(spark, sf_dir):
    """Winsorized (p05/p95-clamped) mean per group — the robust-mean
    companion to q_agg_robust's median/MAD: outliers are clamped to the
    percentile fence instead of dropped. Per-group fences are a
    GROUP-cardinality table broadcast back onto the fact scan (same
    no-fact-window shape as q_agg_robust); one wide scan + one tiny
    aggregate."""
    ev = t(spark, sf_dir, "events")
    fences = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("lo"),
        F.percentile("value", 0.95).alias("hi"),
    )
    j = ev.join(F.broadcast(fences), "event_type")
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return j.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("raw_mean"),
        F.round(F.avg(clamped), 6).alias("winsorized_mean"),
        F.sum(
            ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).cast(
                "bigint"
            )
        ).alias("n_clamped"),
    )


@q(
    "q_corr_matrix",
    """
    WITH f AS (
      SELECT value,
             CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 3600000000 AS hour_f,
             CAST(user_id % 97 AS DOUBLE) AS user_bucket,
             CAST(len(props) AS DOUBLE) AS props_len
      FROM events
    )
    SELECT col_a, col_b, round(c, 6) AS corr
    FROM (
      SELECT 'value' AS col_a, 'hour_f' AS col_b, corr(value, hour_f) AS c FROM f
      UNION ALL SELECT 'value', 'user_bucket', corr(value, user_bucket) FROM f
      UNION ALL SELECT 'value', 'props_len', corr(value, props_len) FROM f
      UNION ALL SELECT 'hour_f', 'user_bucket', corr(hour_f, user_bucket) FROM f
      UNION ALL SELECT 'hour_f', 'props_len', corr(hour_f, props_len) FROM f
      UNION ALL SELECT 'user_bucket', 'props_len', corr(user_bucket, props_len) FROM f
    )
    """,
)
def q_corr_matrix(spark, sf_dir):
    """Pairwise correlation MATRIX (long form) over derived numeric
    features — the pre-training feature-audit step (the reference
    checks one pair at a time; `feature_engineering.py` has no matrix).
    ALL pairs aggregate in ONE scan/one reduce: each corr() is just
    another aggregate expression over the same pass, not a per-pair
    job; output is C(k,2) rows, driver-sized. The DuckDB oracle's
    UNION-ALL-of-scans form is the shape this replaces."""
    ev = t(spark, sf_dir, "events")
    from smart_energy_consumption_analytics_using_big_data_spark.functions.timefns import epoch_us

    f = ev.select(
        F.col("value"),
        ((epoch_us("ts") % 86_400_000_000) / 3_600_000_000).alias("hour_f"),
        (F.col("user_id") % 97).cast("double").alias("user_bucket"),
        F.length("props").cast("double").alias("props_len"),
    )
    cols = ["value", "hour_f", "user_bucket", "props_len"]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    wide = f.agg(
        *[F.corr(a, b).alias(f"{a}|{b}") for a, b in pairs]
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.round(F.col(f"`{a}|{b}`"), 6).alias("corr"),
            )
            for a, b in pairs
        ]
    )
    return wide.select(F.explode(entries).alias("e")).select("e.*")


@q(
    "q_mm_audio_windows",
    """
    SELECT doc_id, CAST(u AS INTEGER) AS window_idx,
           round(u * 0.5, 6) AS start_ts,
           CAST(u * 100 AS BIGINT) AS byte_offset,
           200 AS n_bytes
    FROM (
      SELECT doc_id, unnest(generate_series(0,
        least(7, greatest(CAST(floor((strlen(text)/200.0 - 1.0)/0.5) AS BIGINT), 0))
        )) AS u
      FROM documents WHERE strlen(text)/200.0 >= 1.0
    )
    """,
)
def q_mm_audio_windows(spark, sf_dir):
    """Audio-analysis window schedule (STFT/feature-frame input grid):
    overlapping (1 s window, 0.5 s hop) byte ranges per payload, all
    plan-side sequence+explode arithmetic — windows co-partitioned with
    their source row so the downstream Arrow decode UDF shuffles
    nothing (`ext/multimodal.audio_window_plan`)."""
    docs = MM.with_binary_payload(t(spark, sf_dir, "documents"))
    return MM.audio_window_plan(
        docs, bytes_per_s=200, window_s=1.0, hop_s=0.5, max_windows=8
    )


@q(
    "q_mm_patches",
    """
    SELECT doc_id, CAST(u AS INTEGER) AS patch_idx,
           CAST(u // 4 AS INTEGER) AS patch_row,
           CAST(u % 4 AS INTEGER) AS patch_col,
           CAST((u // 4) * 256 + (u % 4) * 8 AS BIGINT) AS byte_offset
    FROM (
      SELECT doc_id, unnest(generate_series(0,
        CAST(floor(floor(strlen(text)/32.0)/8.0) AS BIGINT) * 4 - 1)) AS u
      FROM documents WHERE floor(floor(strlen(text)/32.0)/8.0) >= 1
    )
    """,
)
def q_mm_patches(spark, sf_dir):
    """ViT-style patch grid: each image-like payload fans out to one
    row per 8x8 patch with (row, col, byte_offset) — the
    patch-embedding input schedule as pure plan arithmetic
    (`ext/multimodal.image_patch_plan`)."""
    docs = MM.with_binary_payload(t(spark, sf_dir, "documents"))
    return MM.image_patch_plan(docs, width=32, patch=8)


@q(
    "q_split_assign",
    """
    SELECT doc_id,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS b
      FROM documents
    )
    """,
)
def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test split assignment (80/10/10) by
    hashing the STABLE document id — reproducible across runs, engines
    and re-partitioning, unlike randomSplit (which depends on partition
    layout). The md5 bucket is the same oracle-portable idiom the dedup
    family uses; no shuffle, pure projection."""
    docs = t(spark, sf_dir, "documents")
    b = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(100),
    )
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    )
    return docs.select("doc_id", split.alias("split"))


@q(
    "q_corpus_shuffle",
    """
    SELECT doc_id, shard,
           row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos
    FROM (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || ':42') AS k,
             CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8))
                  AS BIGINT) % 8 AS INT) AS shard
      FROM documents
    )
    """,
)
def q_corpus_shuffle(spark, sf_dir):
    """Per-epoch deterministic corpus shuffle (`pipeline/corpus.
    shuffle_order`): every doc gets a (shard, pos) training slot as a
    pure function of (doc_id, seed=42). Changing the seed re-permutes
    the whole corpus statelessly; same order at any partition layout,
    unlike orderBy(rand()). NO global sort - md5-bucketed shards plus
    a per-shard row_number window, so order assignment parallelizes
    across shards at any corpus size."""
    return C.shuffle_order(t(spark, sf_dir, "documents"), seed=42, shards=8)


@q(
    "q_text_bpe_pairs",
    """
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wf AS (
      SELECT w, count(*) AS n_w FROM words WHERE len(w) >= 2 GROUP BY w
    ),
    pairs AS (
      SELECT substr(w, CAST(i AS INT), 2) AS pair, n_w
      FROM wf, unnest(generate_series(1, len(w) - 1)) AS t(i)
    )
    SELECT pair, CAST(sum(n_w) AS BIGINT) AS n
    FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 30
    """,
)
def q_text_bpe_pairs(spark, sf_dir):
    """BPE vocabulary training inner loop (Sennrich et al. 2016): the
    most frequent adjacent symbol pair across the corpus — the pair a
    BPE trainer would merge next. Scale shape is the classic BPE trick:
    compact the token stream to WORD FREQUENCIES first (vocab-sized,
    sublinear in corpus growth), then explode each distinct word's
    adjacent char pairs weighted by its count — the corpus-sized
    explode never happens. Top-30 via TakeOrdered, no global sort."""
    from smart_energy_consumption_analytics_using_big_data_spark.functions.textfns import bpe_pair_counts

    return bpe_pair_counts(t(spark, sf_dir, "documents"), top_n=30)


_BM25_TERMS = ("vector", "join", "filter")
_BM25_K1, _BM25_B = 1.2, 0.75


@q(
    "q_text_bm25",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS dl,
             count(*) FILTER (tok = 'vector') AS tf_vector,
             count(*) FILTER (tok = 'join') AS tf_join,
             count(*) FILTER (tok = 'filter') AS tf_filter
      FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT avg(dl) AS avgdl, count(*) AS n,
             count(*) FILTER (tf_vector > 0) AS df_vector,
             count(*) FILTER (tf_join > 0) AS df_join,
             count(*) FILTER (tf_filter > 0) AS df_filter
      FROM per_doc
    )
    SELECT doc_id,
           round(
             round(ln(1 + (n - df_vector + 0.5) / (df_vector + 0.5))
               * tf_vector * (1.2 + 1)
               / (tf_vector + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 12)
           + round(ln(1 + (n - df_join + 0.5) / (df_join + 0.5))
               * tf_join * (1.2 + 1)
               / (tf_join + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 12)
           + round(ln(1 + (n - df_filter + 0.5) / (df_filter + 0.5))
               * tf_filter * (1.2 + 1)
               / (tf_filter + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 12)
           , 6) AS bm25
    FROM per_doc CROSS JOIN stats
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def q_text_bm25(spark, sf_dir):
    """BM25 retrieval scoring (Robertson/Sparck Jones; k1=1.2, b=0.75)
    for a fixed 3-term query — the lexical-retrieval primitive a
    contamination / dedup / retrieval-augmentation pipeline runs at
    corpus scale. ONE token explode feeds a single per-doc aggregation
    (doc length + per-term tf as conditional counts — no second pass,
    no per-term join); corpus stats (N, avgdl, per-term df) reduce to
    a 1-row broadcast. Per-term scores round to 12 dp before the fixed
    -order in-row sum so both engines agree to the final 6-dp hash.
    Top-20 via TakeOrdered."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    aggs = [F.count(F.lit(1)).alias("dl")] + [
        F.count_if(F.col("tok") == term).alias(f"tf_{term}") for term in _BM25_TERMS
    ]
    per_doc = tok.groupBy("doc_id").agg(*aggs)
    stats = per_doc.agg(
        F.avg("dl").alias("avgdl"),
        F.count(F.lit(1)).alias("n"),
        *[
            F.count_if(F.col(f"tf_{term}") > 0).alias(f"df_{term}")
            for term in _BM25_TERMS
        ],
    )
    k1, b = _BM25_K1, _BM25_B
    scored = per_doc.crossJoin(F.broadcast(stats))

    def term_score(term: str):
        tf = F.col(f"tf_{term}")
        idf = F.log(
            F.lit(1)
            + (F.col("n") - F.col(f"df_{term}") + F.lit(0.5))
            / (F.col(f"df_{term}") + F.lit(0.5))
        )
        norm = tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        return F.round(idf * tf * (k1 + 1) / norm, 12)

    total = term_score(_BM25_TERMS[0])
    for term in _BM25_TERMS[1:]:
        total = total + term_score(term)
    return (
        scored.select("doc_id", F.round(total, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


@q(
    "q_emb_ivfpq_search",
    f"""
    WITH cent AS (
      SELECT label AS cell, u.pos AS pos, avg(u.val) AS cval
      FROM ({_UNNEST_EMB.format(id='label')}) GROUP BY label, u.pos
    ),
    emb AS (
      SELECT vec_id, u.pos AS pos, u.val AS v
      FROM ({_UNNEST_EMB.format(id='vec_id')})
    ),
    cellcos AS (
      SELECT e.vec_id, c.cell,
             round(sum(e.v * c.cval) /
                   (sqrt(sum(e.v * e.v)) * sqrt(sum(c.cval * c.cval))), 6) AS cc
      FROM emb e JOIN cent c USING (pos) GROUP BY e.vec_id, c.cell
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cc DESC, cell) AS rn
        FROM cellcos
      ) WHERE rn = 1
    ),
    res AS (
      SELECT e.vec_id, a.cell, e.pos, e.v - c.cval AS r
      FROM emb e JOIN assign a USING (vec_id)
      JOIN cent c ON c.cell = a.cell AND c.pos = e.pos
    ),
    psub AS (
      SELECT vec_id, cell, CAST((pos - 1) // 8 AS INT) AS s,
             (pos - 1) % 8 AS p, r AS v,
             CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS INT) % 16
               AS code0
      FROM res
    ),
    cb AS (
      SELECT s, code0 AS code, p, avg(v) AS cval
      FROM psub GROUP BY s, code0, p
    ),
    enc0 AS (
      SELECT psub.vec_id, psub.s, cb.code,
             round(sum((psub.v - cb.cval) * (psub.v - cb.cval)), 6) AS d2
      FROM psub JOIN cb ON psub.s = cb.s AND psub.p = cb.p
      GROUP BY psub.vec_id, psub.s, cb.code
    ),
    enc AS (
      SELECT vec_id, s, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
        FROM enc0
      ) WHERE rn = 1
    ),
    qe AS (
      SELECT u.pos AS pos, u.val AS v
      FROM (SELECT vec_id, unnest(list_transform(generate_series(1, len(embedding)),
                   i -> {{'pos': i, 'val': CAST(embedding[i] AS DOUBLE)}})) AS u
            FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 1))
    ),
    probe AS (
      SELECT cell FROM (
        SELECT c.cell,
               round(sum(qe.v * c.cval) /
                     (sqrt(sum(qe.v * qe.v)) * sqrt(sum(c.cval * c.cval))), 6) AS qcos
        FROM qe JOIN cent c ON qe.pos = c.pos GROUP BY c.cell
      ) ORDER BY qcos DESC, cell LIMIT 2
    ),
    qsub AS (
      SELECT c.cell, CAST((qe.pos - 1) // 8 AS INT) AS s,
             (qe.pos - 1) % 8 AS p, qe.v - c.cval AS r
      FROM qe JOIN cent c ON qe.pos = c.pos
      JOIN probe ON probe.cell = c.cell
    ),
    dtab AS (
      SELECT qsub.cell, cb.s, cb.code,
             sum((qsub.r - cb.cval) * (qsub.r - cb.cval)) AS dq
      FROM qsub JOIN cb ON qsub.s = cb.s AND qsub.p = cb.p
      GROUP BY qsub.cell, cb.s, cb.code
    )
    SELECT enc.vec_id, round(sum(dtab.dq), 6) AS adc_dist
    FROM enc
    JOIN assign ON assign.vec_id = enc.vec_id
    JOIN dtab ON dtab.cell = assign.cell
            AND dtab.s = enc.s AND dtab.code = enc.code
    GROUP BY enc.vec_id
    ORDER BY adc_dist, enc.vec_id LIMIT 10
    """,
)
def q_emb_ivfpq_search(spark, sf_dir):
    """IVF-PQ asymmetric top-10 — the billion-vector ANN layout as ONE
    oracled composite: coarse quantizer routes the query to nprobe=2
    cells, PQ codes trained on the RESIDUAL (vector - cell centroid)
    score their lists through a per-cell m*k ADC table. Centroids and
    codebook broadcast by construction; query time touches only probed
    cells' codes. Completes the ANN ladder (brute force -> LSH -> IVF
    -> PQ -> IVF-PQ), all derandomized and cross-engine-checked."""
    emb = t(spark, sf_dir, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    return S.ivfpq_search(emb, query, k_top=10, nprobe=2)


@q(
    "q_text_vocab_zipf",
    """
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (
      SELECT tok, count(*) AS n FROM tok WHERE tok <> '' GROUP BY tok
    ),
    ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank FROM freq
    )
    SELECT rank, n, round(ln(CAST(rank AS DOUBLE)), 6) AS log_rank,
           round(ln(CAST(n AS DOUBLE)), 6) AS log_n
    FROM ranked WHERE rank <= 100
    """,
)
def q_text_vocab_zipf(spark, sf_dir):
    """Vocabulary Zipf profile: top-100 token frequencies with log-log
    coordinates — the corpus-health diagnostic (a truncated or
    template-polluted crawl bends the Zipf line) run before committing
    a 100 TB corpus to training. One token explode -> vocab-sized
    frequency table; the rank window sorts only the vocab (bounded by
    distinct tokens, not corpus size), and the top-100 head is
    TakeOrdered."""
    docs = t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window as _W

    ranked = freq.withColumn(
        "rank", F.row_number().over(_W.orderBy(F.desc("n"), F.asc("tok")))
    )
    return (
        ranked.filter(F.col("rank") <= 100)
        .select(
            "rank",
            "n",
            F.round(F.log(F.col("rank").cast("double")), 6).alias("log_rank"),
            F.round(F.log(F.col("n").cast("double")), 6).alias("log_n"),
        )
    )


# ---------------------------------------------------------------------------
# embedding second moments + PCA


@q(
    "q_emb_covariance",
    """
    WITH flat AS (
      SELECT vec_id, u.i - 1 AS i, u.x AS x
      FROM (
        SELECT vec_id,
               unnest(list_transform(generate_series(1, len(embedding)),
                      i -> {'i': i, 'x': CAST(embedding[i] AS DOUBLE)})) AS u
        FROM embeddings
      )
    )
    SELECT a.i AS i, b.i AS j, round(covar_samp(a.x, b.x), 6) + 0.0 AS cov
    FROM flat a JOIN flat b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
    """,
)
def q_emb_covariance(spark, sf_dir):
    """Sample covariance matrix of the embedding components (long
    form, d(d+1)/2 scalar rows) — the feature-space audit / whitening /
    PCA input. ONE Arrow-batched corpus pass collapses each batch to
    sufficient statistics (numpy X'X per ~10k rows); the shuffle moves
    only per-batch partials keyed by (i, j), combined map-side — the
    oracle's unnest + self-join shape (N*d rows shuffled, N*d^2 join
    output) is exactly what this plan avoids at scale."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext import embeddings as E

    return E.covariance_matrix(t(spark, sf_dir, "embeddings"))


@q("q_emb_pca_project")  # rows-only: eigendecomposition not in SQL
def q_emb_pca_project(spark, sf_dir):
    """Top-2 PCA projection of every embedding: distributed covariance
    pass -> driver-side 64x64 eigh (sign-fixed, deterministic) ->
    components embedded as LITERAL arrays so projection is pure JVM
    zip_with/aggregate column math inside whole-stage codegen — the
    train-small/score-big split (same shape as KMeans centroids and the
    PQ codebook). Parity with single-node numpy PCA is pinned in
    tests/test_embeddings_pca.py."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext import embeddings as E

    emb = t(spark, sf_dir, "embeddings")
    comps, _ = E.pca_components(emb, k=2)
    return E.pca_project(emb, comps)


from smart_energy_consumption_analytics_using_big_data_spark.ext.pca_artifact import (  # noqa: E402
    FROZEN_PCA_COMPONENTS_K2,
    duckdb_weight_literal,
)


@q(
    "q_emb_pca_score",
    """
    WITH comp AS (SELECT {w1} AS w1, {w2} AS w2)
    SELECT vec_id,
           round(list_reduce(list_transform(generate_series(1, len(embedding)),
                 i -> CAST(embedding[i] AS DOUBLE) * w1[i]), (a, b) -> a + b), 6) + 0.0 AS pc1,
           round(list_reduce(list_transform(generate_series(1, len(embedding)),
                 i -> CAST(embedding[i] AS DOUBLE) * w2[i]), (a, b) -> a + b), 6) + 0.0 AS pc2
    FROM embeddings, comp
    """.format(
        w1=duckdb_weight_literal(FROZEN_PCA_COMPONENTS_K2[0]),
        w2=duckdb_weight_literal(FROZEN_PCA_COMPONENTS_K2[1]),
    ),
)
def q_emb_pca_score(spark, sf_dir):
    """PCA SCORING with a frozen model artifact — the oracled half of
    the train-small/score-big split (`q_emb_pca_project` trains and
    scores in one plan and stays rows-only because eigendecomposition
    is not SQL). The components are shipped literals
    (`ext/pca_artifact.py`, provably the sf0.01-trained model via
    tests/test_embeddings_pca.py), so the scoring plan is the real
    production shape: literal weight arrays broadcast in the plan
    itself, projection as a JVM zip_with/aggregate ordered fold inside
    whole-stage codegen, no Python and no shuffle at any corpus size.
    The oracle folds the identical literals in the identical order, so
    both engines agree bit-exactly before the 6-decimal rounding
    (+0.0 canonicalizes IEEE -0.0 on both sides)."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext import embeddings as E

    emb = t(spark, sf_dir, "embeddings")
    proj = E.pca_project(emb, [list(c) for c in FROZEN_PCA_COMPONENTS_K2])
    return proj.select(
        "vec_id",
        (F.col("pc1") + F.lit(0.0)).alias("pc1"),
        (F.col("pc2") + F.lit(0.0)).alias("pc2"),
    )


@q(
    "q_text_bpe_merges",
    r"""
    WITH wf AS (
      SELECT w, count(*) AS n_w
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) >= 2 GROUP BY w
    ),
    s0 AS (
      SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS sym, n_w FROM wf
    ),
    p1 AS (
      SELECT s[i] || ' ' || s[i + 1] AS pair, CAST(sum(n_w) AS BIGINT) AS n
      FROM (SELECT string_split(sym, ' ') AS s, n_w FROM s0),
           unnest(generate_series(1, len(s) - 1)) AS t(i)
      GROUP BY 1 ORDER BY n DESC, pair LIMIT 1
    ),
    m1 AS (
      SELECT string_split(pair, ' ')[1] AS l, string_split(pair, ' ')[2] AS r,
             replace(pair, ' ', '') AS m FROM p1
    ),
    s1 AS (
      SELECT list_reduce(string_split(sym, ' '),
               (acc, x) -> CASE WHEN x = r AND (acc = l OR ends_with(acc, ' ' || l))
                THEN left(acc, len(acc) - len(l)) || m
                ELSE acc || ' ' || x END) AS sym, n_w
      FROM s0, m1
    ),
    p2 AS (
      SELECT s[i] || ' ' || s[i + 1] AS pair, CAST(sum(n_w) AS BIGINT) AS n
      FROM (SELECT string_split(sym, ' ') AS s, n_w FROM s1),
           unnest(generate_series(1, len(s) - 1)) AS t(i)
      GROUP BY 1 ORDER BY n DESC, pair LIMIT 1
    ),
    m2 AS (
      SELECT string_split(pair, ' ')[1] AS l, string_split(pair, ' ')[2] AS r,
             replace(pair, ' ', '') AS m FROM p2
    ),
    s2 AS (
      SELECT list_reduce(string_split(sym, ' '),
               (acc, x) -> CASE WHEN x = r AND (acc = l OR ends_with(acc, ' ' || l))
                THEN left(acc, len(acc) - len(l)) || m
                ELSE acc || ' ' || x END) AS sym, n_w
      FROM s1, m2
    ),
    p3 AS (
      SELECT s[i] || ' ' || s[i + 1] AS pair, CAST(sum(n_w) AS BIGINT) AS n
      FROM (SELECT string_split(sym, ' ') AS s, n_w FROM s2),
           unnest(generate_series(1, len(s) - 1)) AS t(i)
      GROUP BY 1 ORDER BY n DESC, pair LIMIT 1
    )
    SELECT 1 AS merge_round, pair, n FROM p1
    UNION ALL SELECT 2, pair, n FROM p2
    UNION ALL SELECT 3, pair, n FROM p3
    """,
)
def q_text_bpe_merges(spark, sf_dir):
    """BPE TRAINING, not just pair counting: the first three merge
    rules learned iteratively — each round's top pair is applied to the
    vocab-sized symbol table (broadcast 1-row winner + token-delimited
    greedy fold, Sennrich 2016 semantics — see functions/textfns.py
    `_bpe_merge_expr` for why substring replace is wrong) before the
    next round counts again. Single execution shape since r11: the
    materialized localCheckpoint ladder (one k-bounded 1-row collect
    per round — a BPE trainer is inherently sequential in its merge
    list); per-round work stays vocab-sized (the corpus compaction
    happens once). The oracle replays the identical iteration as
    nested CTEs whose list_reduce fold mirrors the engine expression
    symbol-for-symbol."""
    from smart_energy_consumption_analytics_using_big_data_spark.functions.textfns import (
        bpe_learn_merges,
    )

    return bpe_learn_merges(t(spark, sf_dir, "documents"), n_merges=3)


@q(
    "q_text_bpe_encode",
    r"""
    WITH wf AS (
      SELECT w, count(*) AS n_w
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) >= 2 GROUP BY w
    ),
    s0 AS (
      SELECT w, trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS sym, n_w FROM wf
    ),
    p1 AS (
      SELECT s[i] || ' ' || s[i + 1] AS pair, CAST(sum(n_w) AS BIGINT) AS n
      FROM (SELECT string_split(sym, ' ') AS s, n_w FROM s0),
           unnest(generate_series(1, len(s) - 1)) AS t(i)
      GROUP BY 1 ORDER BY n DESC, pair LIMIT 1
    ),
    m1 AS (
      SELECT string_split(pair, ' ')[1] AS l, string_split(pair, ' ')[2] AS r,
             replace(pair, ' ', '') AS m FROM p1
    ),
    s1 AS (
      SELECT w, list_reduce(string_split(sym, ' '),
               (acc, x) -> CASE WHEN x = r AND (acc = l OR ends_with(acc, ' ' || l))
                THEN left(acc, len(acc) - len(l)) || m
                ELSE acc || ' ' || x END) AS sym, n_w
      FROM s0, m1
    ),
    p2 AS (
      SELECT s[i] || ' ' || s[i + 1] AS pair, CAST(sum(n_w) AS BIGINT) AS n
      FROM (SELECT string_split(sym, ' ') AS s, n_w FROM s1),
           unnest(generate_series(1, len(s) - 1)) AS t(i)
      GROUP BY 1 ORDER BY n DESC, pair LIMIT 1
    ),
    m2 AS (
      SELECT string_split(pair, ' ')[1] AS l, string_split(pair, ' ')[2] AS r,
             replace(pair, ' ', '') AS m FROM p2
    ),
    s2 AS (
      SELECT w, list_reduce(string_split(sym, ' '),
               (acc, x) -> CASE WHEN x = r AND (acc = l OR ends_with(acc, ' ' || l))
                THEN left(acc, len(acc) - len(l)) || m
                ELSE acc || ' ' || x END) AS sym, n_w
      FROM s1, m2
    ),
    p3 AS (
      SELECT s[i] || ' ' || s[i + 1] AS pair, CAST(sum(n_w) AS BIGINT) AS n
      FROM (SELECT string_split(sym, ' ') AS s, n_w FROM s2),
           unnest(generate_series(1, len(s) - 1)) AS t(i)
      GROUP BY 1 ORDER BY n DESC, pair LIMIT 1
    ),
    m3 AS (
      SELECT string_split(pair, ' ')[1] AS l, string_split(pair, ' ')[2] AS r,
             replace(pair, ' ', '') AS m FROM p3
    ),
    s3 AS (
      SELECT w, list_reduce(string_split(sym, ' '),
               (acc, x) -> CASE WHEN x = r AND (acc = l OR ends_with(acc, ' ' || l))
                THEN left(acc, len(acc) - len(l)) || m
                ELSE acc || ' ' || x END) AS sym, n_w
      FROM s2, m3
    )
    SELECT w, sym AS encoded,
           CAST(len(string_split(sym, ' ')) AS INTEGER) AS n_tokens, n_w
    FROM s3 ORDER BY n_w DESC, w LIMIT 100
    """,
)
def q_text_bpe_encode(spark, sf_dir):
    """BPE ENCODING — the other half of the tokenizer loop (the trainer
    above learns merges; this applies them). Same declarative merge
    iteration carrying the original word through, so the final vocab
    state is the encoding: (word, symbol string, token count, corpus
    frequency), top-100 by frequency. Encoding runs on the DISTINCT-
    word table — the vocab compaction that makes corpus tokenization
    sublinear in corpus growth (encode each vocab entry once, join
    token counts back by word). Merge application is the token-
    delimited greedy fold (`_bpe_merge_expr`). Oracle replays the
    identical rounds as nested CTEs carrying the vocab through the
    same list_reduce fold; all counts cast to BIGINT/INTEGER (the r6
    HUGEINT lesson)."""
    from smart_energy_consumption_analytics_using_big_data_spark.functions.textfns import (
        bpe_encode_vocab,
    )

    return bpe_encode_vocab(t(spark, sf_dir, "documents"), n_merges=3, top_n=100)


@q(
    "q_emb_covariance_by_label",
    """
    WITH flat AS (
      SELECT vec_id, label, u.i - 1 AS i, u.x AS x
      FROM (
        SELECT vec_id, label,
               unnest(list_transform(generate_series(1, len(embedding)),
                      i -> {'i': i, 'x': CAST(embedding[i] AS DOUBLE)})) AS u
        FROM embeddings
      )
    )
    SELECT a.label AS label, a.i AS i, b.i AS j,
           round(covar_samp(a.x, b.x), 6) + 0.0 AS cov
    FROM flat a JOIN flat b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2, 3
    """,
)
def q_emb_covariance_by_label(spark, sf_dir):
    """Class-conditional covariance (one upper triangle per label) —
    the LDA / per-class Mahalanobis / per-domain drift input. Single
    corpus pass with the key carried through the Arrow-batch partials;
    a skewed class costs its row share, never its own job."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext import embeddings as E

    return E.covariance_matrix_grouped(t(spark, sf_dir, "embeddings"))


@q("q_emb_mahalanobis")  # rows-only: Cholesky inverse not in SQL
def q_emb_mahalanobis(spark, sf_dir):
    """Per-class squared Mahalanobis outlier score for every embedding
    — third rung of the covariance ladder (covariance -> PCA ->
    Mahalanobis QA). Per-class moments come from the one grouped
    Arrow-batch pass; k tiny Cholesky inverses on the driver; scoring
    is one broadcast matrix multiply per Arrow batch per class. numpy
    parity and chi-square-scale sanity pinned in
    tests/test_embeddings_pca.py."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext import embeddings as E

    return E.mahalanobis_scores(t(spark, sf_dir, "embeddings"))


@q(
    "q_scalar_map",
    """
    SELECT user_id, event_type, n
    FROM (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    WHERE n >= 20
    """,
)
def q_scalar_map(spark, sf_dir):
    """MAP-typed column family (F12 beyond arrays/JSON): per-user
    type->count built as a MAP (map_from_entries over collected
    structs), thresholded with map_filter, then exploded back to rows.
    The oracle is the plain GROUP BY + HAVING the map pipeline must be
    semantically equivalent to — pinning that Spark's map construction,
    higher-order filtering, and explosion lose nothing. The map lives
    INSIDE the plan (grouped state, driver never sees it); the output
    is scalar rows, per the driver-comparator rule."""
    ev = t(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    mapped = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("type_counts")
    )
    filtered = mapped.select(
        "user_id",
        F.map_filter("type_counts", lambda k, v: v >= F.lit(20)).alias("big"),
    )
    return filtered.select(
        "user_id", F.explode("big").alias("event_type", "n")
    )


@q("q_emb_pca_scree")  # rows-only: eigendecomposition not in SQL
def q_emb_pca_scree(spark, sf_dir):
    """PCA scree (component, eigenvalue, explained ratio) — the
    how-many-dimensions-matter audit. Eigenvalues from the one-pass
    distributed covariance + driver-side eigh; total variance is the
    covariance trace, so the ratio needs no second corpus pass."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext import embeddings as E

    emb = t(spark, sf_dir, "embeddings")
    k = 8
    cov_rows = E.covariance_matrix(emb, round_output=False).collect()
    comps, evs = E.pca_components(emb, k=k, cov_rows=cov_rows)
    trace = sum(r["cov"] for r in cov_rows if r["i"] == r["j"])
    rows = [
        (i + 1, round(ev, 6), round(ev / trace, 6)) for i, ev in enumerate(evs)
    ]
    return spark.createDataFrame(
        rows, "component int, eigenvalue double, explained_ratio double"
    )


@q(
    "q_sample_weighted",
    """
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                      AS INT) + 1.0) / 65537.0) / n_chars AS es_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars, round(es_key, 6) AS es_key
    FROM keyed ORDER BY es_key DESC, doc_id LIMIT 100
    """,
)
def q_sample_weighted(spark, sf_dir):
    """REPRODUCIBLE weighted sampling without replacement
    (Efraimidis-Spirakis): each doc draws u in (0,1] from an md5 hash
    of its id (not an RNG), gets key ln(u)/w with w = n_chars, and the
    top-k keys ARE a weighted sample without replacement. Deterministic
    across runs/engines/partitionings — so unlike rand()-based
    sampling the selection is oracle-checked exactly — and the plan is
    a narrow projection + TakeOrdered: no shuffle before the top-k at
    any corpus size. The training-data use: length-weighted document
    selection that an auditor can re-derive."""
    docs = t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
            "double"
        )
        + 1.0
    ) / 65537.0
    es_key = F.log(u) / F.col("n_chars")
    keyed = docs.select("doc_id", "lang", "n_chars", es_key.alias("es_key_raw"))
    return (
        keyed.orderBy(F.desc("es_key_raw"), F.asc("doc_id"))
        .limit(100)
        .select("doc_id", "lang", "n_chars", F.round("es_key_raw", 6).alias("es_key"))
    )


@q(
    "q_feature_hashing",
    """
    WITH f AS (
      SELECT user_id,
             CAST(concat('0x', substr(md5(concat('type=', event_type)), 1, 4)) AS INT)
               % 32 AS idx,
             CASE WHEN CAST(concat('0x', substr(md5(concat('type=', event_type)), 5, 1))
                       AS INT) % 2 = 0 THEN value ELSE -value END AS sv
      FROM events
    )
    SELECT user_id, idx, {v} AS feature_value, count(*) AS n
    FROM f GROUP BY user_id, idx
    """.format(v=DSUM("sv")),
)
def q_feature_hashing(spark, sf_dir):
    """Hashing-trick featurizer (Weinberger et al. 2009): categorical
    features map to a FIXED 32-dim index space via md5 (no vocabulary
    pass, no fit/transform state to ship) with a second hash bit
    providing the variance-cancelling sign. Deterministic across
    engines, so the featurization is oracle-checked exactly; the plan
    is one narrow projection + one grouped sum — at 100 TB there is no
    dictionary to broadcast and no OOV problem, which is why hashing
    beats StringIndexer for high-cardinality features."""
    ev = t(spark, sf_dir, "events")
    feat = F.concat(F.lit("type="), F.col("event_type"))
    h = F.md5(feat)
    idx = F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % 32
    sign_even = F.conv(F.substring(h, 5, 1), 16, 10).cast("int") % 2 == 0
    sv = F.when(sign_even, F.col("value")).otherwise(-F.col("value"))
    return (
        ev.select("user_id", idx.alias("idx"), sv.alias("sv"))
        .groupBy("user_id", "idx")
        .agg(sum_exact("sv").alias("feature_value"), F.count(F.lit(1)).alias("n"))
    )


@q(
    "q_emb_quality_audit",
    """
    WITH checked AS (
      SELECT vec_id, len(embedding) AS dim,
             CASE WHEN len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) > 0
                  THEN 1 ELSE 0 END AS has_nan,
             CASE WHEN sqrt(list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) < 1e-12
                  THEN 1 ELSE 0 END AS zero_norm
      FROM embeddings
    )
    SELECT count(*) AS n_vectors,
           CAST(count(DISTINCT dim) AS BIGINT) AS n_distinct_dims,
           CAST(min(dim) AS INTEGER) AS min_dim, CAST(max(dim) AS INTEGER) AS max_dim,
           CAST(sum(has_nan) AS BIGINT) AS n_with_nan,
           CAST(sum(zero_norm) AS BIGINT) AS n_zero_norm
    FROM checked
    """,
)
def q_emb_quality_audit(spark, sf_dir):
    """Embedding-integrity audit in one declarative pass: dimension
    consistency (a ragged corpus breaks every downstream kernel), NaN
    scan, and zero-norm detection (cosine is undefined there) — the
    pre-flight check before any similarity/covariance job, as array
    higher-order expressions with a single scalar-row rollup. The
    structural audit the reference runs as separate count() jobs."""
    emb = t(spark, sf_dir, "embeddings")
    xd = F.transform("embedding", lambda x: x.cast("double"))
    has_nan = (
        F.size(F.filter(xd, lambda x: F.isnan(x))) > 0
    ).cast("int")
    norm = F.sqrt(F.aggregate(xd, F.lit(0.0), lambda a, x: a + x * x))
    checked = emb.select(
        F.size("embedding").alias("dim"),
        has_nan.alias("has_nan"),
        (norm < 1e-12).cast("int").alias("zero_norm"),
    )
    return checked.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.countDistinct("dim").alias("n_distinct_dims"),
        F.min("dim").alias("min_dim"),
        F.max("dim").alias("max_dim"),
        F.sum("has_nan").cast("bigint").alias("n_with_nan"),
        F.sum("zero_norm").cast("bigint").alias("n_zero_norm"),
    )


@q(
    "q_approx_distinct_kmv",
    """
    WITH hashed AS (
      SELECT DISTINCT event_type, user_id,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n_exact
      FROM hashed
    )
    SELECT event_type, CAST(max(n_exact) AS BIGINT) AS n_exact,
           round(CASE WHEN max(n_exact) < 64 THEN CAST(max(n_exact) AS DOUBLE)
                      ELSE 63.0 / (max(CASE WHEN rk = 64 THEN h END) / 4294967296.0)
                 END, 6) AS kmv_estimate
    FROM ranked WHERE rk <= 64
    GROUP BY event_type
    """,
)
def q_approx_distinct_kmv(spark, sf_dir):
    """KMV (k-minimum-values / bottom-k) distinct sketch, built from
    relational algebra: keep the k=64 smallest md5 hash values per
    group; the k-th smallest u estimates distinct count as (k-1)/u.
    Unlike HLL registers the state is MERGEABLE by plain
    union + re-bottom-k AND deterministic (hash, not RNG), so — unique
    among the sketch family here — the estimate itself is
    oracle-checked EXACTLY across engines. Bottom-k also doubles as a
    mergeable uniform sample of the distinct keys. The window runs
    over the DISTINCT (group, key) pairs, not the fact table."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window as _W

    hashed = (
        ev.select("event_type", "user_id")
        .distinct()
        .withColumn(
            "h",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
            ).cast("bigint"),
        )
    )
    w_rk = _W.partitionBy("event_type").orderBy("h", "user_id")
    w_all = _W.partitionBy("event_type")
    ranked = hashed.withColumn("rk", F.row_number().over(w_rk)).withColumn(
        "n_exact", F.count(F.lit(1)).over(w_all)
    )
    kth_u = F.max(F.when(F.col("rk") == 64, F.col("h"))) / 4294967296.0
    est = F.when(
        F.max("n_exact") < 64, F.max("n_exact").cast("double")
    ).otherwise(63.0 / kth_u)
    return (
        ranked.filter(F.col("rk") <= 64)
        .groupBy("event_type")
        .agg(
            F.max("n_exact").cast("bigint").alias("n_exact"),
            F.round(est, 6).alias("kmv_estimate"),
        )
    )


@q(
    "q_approx_overlap_kmv",
    """
    WITH hashed AS (
      SELECT DISTINCT event_type, user_id,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h
      FROM events
    ),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM (SELECT DISTINCT event_type FROM events) a
      JOIN (SELECT DISTINCT event_type FROM events) b ON a.event_type < b.event_type
    ),
    members AS (
      SELECT p.ta, p.tb, h.user_id, max(h.h) AS h,
             max(CASE WHEN h.event_type = p.ta THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN h.event_type = p.tb THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN hashed h ON h.event_type IN (p.ta, p.tb)
      GROUP BY p.ta, p.tb, h.user_id
    ),
    ranked AS (
      SELECT ta, tb, h, in_a, in_b,
             row_number() OVER (PARTITION BY ta, tb ORDER BY h, user_id) AS rk,
             count(*) OVER (PARTITION BY ta, tb) AS n_union
      FROM members
    )
    SELECT ta, tb,
           CAST(max(n_union) AS BIGINT) AS union_exact,
           round(CASE WHEN max(n_union) < 64 THEN CAST(max(n_union) AS DOUBLE)
                      ELSE 63.0 / (max(CASE WHEN rk = 64 THEN h END) / 4294967296.0)
                 END, 6) AS union_est,
           round(CAST(sum(in_a * in_b) AS DOUBLE) / least(max(n_union), 64), 6)
             AS jaccard_est
    FROM ranked WHERE rk <= 64
    GROUP BY ta, tb
    """,
)
def q_approx_overlap_kmv(spark, sf_dir):
    """KMV set algebra (theta-sketch style): audience overlap between
    every pair of event types from ONE bottom-k pass per pair over the
    UNION of their distinct keys — the shared fraction inside the
    union's bottom-64 estimates Jaccard; times the union estimate it
    estimates the intersection. Exact |A|,|B| never materialize, the
    window runs over distinct (pair, user) rows, and the md5
    determinism keeps even the estimates oracle-checked exactly. The
    production question this answers at 100 TB: which segments share
    users, without a quadratic exact-distinct join."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window as _W

    hashed = (
        ev.select("event_type", "user_id")
        .distinct()
        .withColumn(
            "h",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
            ).cast("bigint"),
        )
    )
    types = ev.select("event_type").distinct()
    pairs = (
        types.alias("a")
        .join(
            types.alias("b"),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("ta"), F.col("b.event_type").alias("tb")
        )
    )
    members = (
        F.broadcast(pairs)
        .join(
            hashed.alias("h"),
            (F.col("h.event_type") == F.col("ta"))
            | (F.col("h.event_type") == F.col("tb")),
        )
        .groupBy("ta", "tb", "user_id")
        .agg(
            F.max("h").alias("h"),
            F.max((F.col("event_type") == F.col("ta")).cast("int")).alias("in_a"),
            F.max((F.col("event_type") == F.col("tb")).cast("int")).alias("in_b"),
        )
    )
    w_rk = _W.partitionBy("ta", "tb").orderBy("h", "user_id")
    w_all = _W.partitionBy("ta", "tb")
    ranked = members.withColumn("rk", F.row_number().over(w_rk)).withColumn(
        "n_union", F.count(F.lit(1)).over(w_all)
    )
    kth_u = F.max(F.when(F.col("rk") == 64, F.col("h"))) / 4294967296.0
    union_est = F.when(
        F.max("n_union") < 64, F.max("n_union").cast("double")
    ).otherwise(63.0 / kth_u)
    return (
        ranked.filter(F.col("rk") <= 64)
        .groupBy("ta", "tb")
        .agg(
            F.max("n_union").cast("bigint").alias("union_exact"),
            F.round(union_est, 6).alias("union_est"),
            F.round(
                F.sum(F.col("in_a") * F.col("in_b"))
                / F.least(F.max("n_union"), F.lit(64)),
                6,
            ).alias("jaccard_est"),
        )
    )


@q(
    "q_graph_triangles",
    """
    WITH edges0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT u AS node, count(*) AS d FROM (
        SELECT u FROM edges0 UNION ALL SELECT v FROM edges0
      ) t(u) GROUP BY 1
    ),
    oriented AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS lo,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS hi
      FROM edges0 e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM (
      SELECT 1
      FROM oriented e1
      JOIN oriented e2 ON e2.lo = e1.hi
      JOIN oriented e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
    )
    """,
)
def q_graph_triangles(spark, sf_dir):
    """Triangle counting on the co-purchase graph (parts sharing an
    order) with the DEGREE-ORIENTATION trick: every edge points from
    its lower-(degree, id) endpoint to the higher one, so each
    triangle is counted exactly once AND the wedge join fans out from
    low-degree vertices only — the bound that keeps hub nodes from
    exploding the join at scale (arboricity bound, the standard
    distributed formulation). Edges build from the in-row basket-pair
    enumeration (ext.graph.copurchase_pairs — one fact shuffle, no
    self-join); everything downstream touches the edge list, not the
    fact table."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import (
        copurchase_pairs,
        oriented_triangles,
    )

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        copurchase_pairs(li, "l_orderkey", "l_partkey")
        .select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .distinct()
    )
    tri = oriented_triangles(edges)
    return tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


@q(
    "q_text_entropy",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split_regex(text, '')) AS ch FROM documents
    ),
    cc AS (
      SELECT doc_id, ch, count(*) AS c FROM chars WHERE ch <> '' GROUP BY 1, 2
    ),
    tot AS (
      SELECT doc_id, sum(c) AS n FROM cc GROUP BY 1
    )
    SELECT cc.doc_id,
           CAST(max(tot.n) AS BIGINT) AS n_chars_counted,
           round(-sum((c / tot.n) * log2(c / tot.n)), 6) AS char_entropy
    FROM cc JOIN tot ON cc.doc_id = tot.doc_id
    GROUP BY cc.doc_id
    ORDER BY char_entropy ASC, cc.doc_id LIMIT 100
    """,
)
def q_text_entropy(spark, sf_dir):
    """Character-entropy quality screen: Shannon entropy of each doc's
    character distribution — keyboard mash, repeated-token padding and
    single-char floods score far below natural text (English prose
    ~4.0-4.5 bits), so ranking ascending surfaces the most
    suspicious slice first (a fixed floor would be corpus-dependent;
    the bottom-k screen is what a curator reviews), a garbage class the
    stopword/punctuation heuristics (q_text_quality) miss. One explode
    compacted immediately to per-(doc, char) counts; the entropy sum
    runs over that vocab-sized table."""
    docs = t(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).filter(F.col("ch") != "")
    cc = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = cc.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    ent = F.round(-F.sum(p * F.log2(p)), 6)
    return (
        cc.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_chars_counted"),
            ent.alias("char_entropy"),
        )
        .orderBy(F.asc("char_entropy"), F.asc("doc_id"))
        .limit(100)
    )


@q(
    "q_agg_weighted_median",
    """
    WITH w AS (
      SELECT event_type, value,
             CASE event_type WHEN 'purchase' THEN 3.0 WHEN 'signup' THEN 2.0
                  ELSE 1.0 END * (1 + (user_id % 3)) AS wt
      FROM events
    ),
    cum AS (
      SELECT event_type, value, wt,
             sum(wt) OVER (PARTITION BY event_type ORDER BY value, wt
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(wt) OVER (PARTITION BY event_type) AS total
      FROM w
    )
    SELECT event_type,
           round(min(CASE WHEN cw >= 0.5 * total THEN value END), 6)
             AS weighted_median,
           round(min(CASE WHEN cw >= 0.9 * total THEN value END), 6)
             AS weighted_p90
    FROM cum GROUP BY event_type
    """,
)
def q_agg_weighted_median(spark, sf_dir):
    """Weighted median / weighted p90 per group: sort by value, take
    the first row whose CUMULATIVE weight crosses the target mass —
    the importance-weighted quantile neither engine ships natively,
    expressed as one ordered window + conditional min so both engines
    compute it identically (exact, not sketched). Weights derive
    deterministically from type and user bucket. The companion to
    q_agg_weighted's weighted mean; robust where the mean is not.
    Scale note: exact weighted quantiles need the per-group sort (one
    window partition per group) — kept exact here for the oracle, like
    q_agg_percentile; at 100 TB pre-bucket values and run the same
    cumulative-weight crossing over the vocab-sized histogram instead
    (q_approx_quantile_merge's shape with weights)."""
    ev = t(spark, sf_dir, "events")
    wt = (
        F.when(F.col("event_type") == "purchase", 3.0)
        .when(F.col("event_type") == "signup", 2.0)
        .otherwise(1.0)
    ) * (1 + F.col("user_id") % 3)
    from pyspark.sql import Window as _W

    w_cum = (
        _W.partitionBy("event_type")
        .orderBy("value", "wt")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    w_all = _W.partitionBy("event_type")
    cum = ev.select("event_type", "value", wt.alias("wt")).select(
        "event_type",
        "value",
        F.sum("wt").over(w_cum).alias("cw"),
        F.sum("wt").over(w_all).alias("total"),
    )
    return cum.groupBy("event_type").agg(
        F.round(
            F.min(F.when(F.col("cw") >= 0.5 * F.col("total"), F.col("value"))), 6
        ).alias("weighted_median"),
        F.round(
            F.min(F.when(F.col("cw") >= 0.9 * F.col("total"), F.col("value"))), 6
        ).alias("weighted_p90"),
    )


@q(
    "q_graph_clustering",
    """
    WITH edges0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT u AS node, count(*) AS d FROM (
        SELECT u FROM edges0 UNION ALL SELECT v FROM edges0
      ) t(u) GROUP BY 1
    ),
    oriented AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS lo,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS hi
      FROM edges0 e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ),
    tris AS (
      SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
      FROM oriented e1
      JOIN oriented e2 ON e2.lo = e1.hi
      JOIN oriented e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
    ),
    per_node AS (
      SELECT node, count(*) AS n_tri FROM (
        SELECT a FROM tris UNION ALL SELECT b FROM tris UNION ALL SELECT c FROM tris
      ) t(node) GROUP BY 1
    )
    SELECT deg.node AS node, CAST(deg.d AS BIGINT) AS degree,
           CAST(coalesce(per_node.n_tri, 0) AS BIGINT) AS n_triangles,
           round(2.0 * coalesce(per_node.n_tri, 0) / (deg.d * (deg.d - 1)), 6)
             AS clustering_coef
    FROM deg LEFT JOIN per_node ON per_node.node = deg.node
    WHERE deg.d >= 2
    ORDER BY clustering_coef DESC, degree DESC, node LIMIT 50
    """,
)
def q_graph_clustering(spark, sf_dir):
    """Local clustering coefficient: per-node triangle membership over
    the degree-oriented wedge join (each triangle credits all three
    vertices), normalized by the node's open-wedge count d(d-1)/2 —
    the community-density metric. Reuses q_graph_triangles' oriented
    edge machinery (edges via the in-row basket-pair build, one fact
    shuffle); the per-node rollup and the degree join both run on
    edge/triangle tables, never the fact table."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import copurchase_pairs

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        copurchase_pairs(li, "l_orderkey", "l_partkey")
        .select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        edges.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tris = (
        e1.join(e2, F.col("e2.lo") == F.col("e1.hi"))
        .join(
            e3,
            (F.col("e3.lo") == F.col("e1.lo")) & (F.col("e3.hi") == F.col("e2.hi")),
        )
        .select(
            F.col("e1.lo").alias("ta"), F.col("e1.hi").alias("tb"), F.col("e2.hi").alias("tc")
        )
    )
    per_node = (
        tris.select(F.col("ta").alias("node"))
        .unionAll(tris.select(F.col("tb").alias("node")))
        .unionAll(tris.select(F.col("tc").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    out = (
        deg.join(per_node, "node", "left")
        .filter(F.col("d") >= 2)
        .select(
            "node",
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.round(
                2.0 * F.coalesce("n_tri", F.lit(0)) / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("clustering_coef"),
        )
    )
    return out.orderBy(
        F.desc("clustering_coef"), F.desc("degree"), F.asc("node")
    ).limit(50)


@q(
    "q_text_zipf_slope",
    """
    WITH freq AS (
      SELECT tok, count(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> '' GROUP BY tok
    ),
    ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank
      FROM freq
    )
    SELECT count(*) AS n_terms,
           round(regr_slope(ln(n), ln(rank)), 6) AS zipf_slope,
           round(regr_intercept(ln(n), ln(rank)), 6) AS zipf_intercept,
           round(regr_r2(ln(n), ln(rank)), 6) AS r2
    FROM ranked WHERE rank <= 1000
    """,
)
def q_text_zipf_slope(spark, sf_dir):
    """Zipf-law fit via the SQL regression-aggregate family
    (regr_slope / regr_intercept / regr_r2): natural language gives a
    log-log slope near -1, so a corpus whose slope drifts far from it
    is synthetic/templated/spammy — the one-number version of
    q_text_vocab_zipf's table. The regression runs as ONE aggregate
    over the vocab-sized rank table (no driver-side fitting); also the
    registry's coverage of the regr_* function family."""
    docs = t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window as _W

    ranked = freq.withColumn(
        "rank", F.row_number().over(_W.orderBy(F.desc("n"), F.asc("tok")))
    ).filter(F.col("rank") <= 1000)
    ln_n, ln_r = F.log(F.col("n").cast("double")), F.log(
        F.col("rank").cast("double")
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope(ln_n, ln_r), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(ln_n, ln_r), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(ln_n, ln_r), 6).alias("r2"),
    )


@q(
    "q_agg_bool_bit",
    """
    SELECT event_type,
           CAST(count(*) FILTER (value > 400) AS BIGINT) AS n_high,
           bool_or(value > 490) AS any_extreme,
           bool_and(value >= 0) AS all_nonneg,
           CAST(bit_or(CAST(user_id % 16 AS INTEGER)) AS INTEGER) AS bucket_bits_or,
           CAST(bit_and(CAST(user_id % 16 + 16 AS INTEGER)) AS INTEGER) AS bucket_bits_and,
           CAST(bit_xor(CAST(user_id % 16 AS INTEGER)) AS INTEGER) AS bucket_bits_xor
    FROM events GROUP BY event_type
    """,
)
def q_agg_bool_bit(spark, sf_dir):
    """Boolean + bitwise aggregate families in one rollup: count_if /
    bool_or (any) / bool_and (every) answer predicate questions without
    CASE scaffolding, and bit_or/bit_and/bit_xor fold bucket masks —
    the presence-bitmap building block (bit_or of per-row masks = the
    set of buckets a group touched; xor supports parity/toggle
    checks). All map-side-combinable single-pass aggregates."""
    ev = t(spark, sf_dir, "events")
    bucket = (F.col("user_id") % 16).cast("int")
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 400).alias("n_high"),
        F.bool_or(F.col("value") > 490).alias("any_extreme"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bit_or(bucket).cast("int").alias("bucket_bits_or"),
        F.bit_and((F.col("user_id") % 16 + 16).cast("int")).cast("int").alias("bucket_bits_and"),
        F.bit_xor(bucket).cast("int").alias("bucket_bits_xor"),
    )


@q(
    "q_agg_listagg",
    """
    WITH top_users AS (
      SELECT event_type, user_id, count(*) AS n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY count(*) DESC, user_id) AS rk
      FROM events GROUP BY event_type, user_id
    )
    SELECT event_type,
           string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY rk) AS top5_users,
           CAST(sum(n) AS BIGINT) AS their_events
    FROM top_users WHERE rk <= 5
    GROUP BY event_type
    """,
)
def q_agg_listagg(spark, sf_dir):
    """Ordered string aggregation (listagg / string_agg): the top-5
    users per type concatenated IN RANK ORDER — deterministic because
    the ordering is explicit (an unordered listagg is a
    partitioning-dependent answer, the same trap as first()); built on
    a grouped top-k so the aggregate runs over 5 rows per group, and
    the denormalized-id-list export shape (one row per group for a
    report/API) stays oracle-checkable."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window as _W

    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    ranked = per_user.withColumn(
        "rk",
        F.row_number().over(
            _W.partitionBy("event_type").orderBy(F.desc("n"), F.asc("user_id"))
        ),
    ).filter(F.col("rk") <= 5)
    return ranked.groupBy("event_type").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rk", F.col("user_id").cast("string").alias("user_id")))
                ),
                lambda s: s["user_id"],
            ),
            ",",
        ).alias("top5_users"),
        F.sum("n").cast("bigint").alias("their_events"),
    )


@q(
    "q_histogram_equidepth",
    """
    WITH deciled AS (
      SELECT event_type, value,
             ntile(10) OVER (PARTITION BY event_type
                             ORDER BY value, event_id) AS decile
      FROM events
    )
    SELECT event_type, decile, count(*) AS n,
           round(min(value), 6) AS lo, round(max(value), 6) AS hi
    FROM deciled GROUP BY event_type, decile
    """,
)
def q_histogram_equidepth(spark, sf_dir):
    """Equi-DEPTH histogram: ntile(10) splits each group into
    equal-count deciles whose [lo, hi] edges are the data-adaptive bin
    boundaries — the optimizer-statistics histogram form (equal-width
    bins starve where data clusters; equal-depth edges land where the
    mass is). The unique (value, event_id) tiebreak makes decile
    assignment deterministic. Scale note: ntile needs the per-group
    sort, same trade as every exact quantile here — the sketch path
    approximates edges from q_approx_quantile_merge's histogram."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window as _W

    deciled = ev.select(
        "event_type",
        "value",
        F.ntile(10)
        .over(_W.partitionBy("event_type").orderBy("value", "event_id"))
        .alias("decile"),
    )
    return deciled.groupBy("event_type", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    )


@q(
    "q_agg_mode",
    """
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT user_id, event_type, n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type ASC) AS rk
      FROM c
    )
    SELECT user_id, event_type AS mode_event_type, n AS mode_count
    FROM r WHERE rk = 1
    """,
)
def q_agg_mode(spark, sf_dir):
    """Deterministic per-group mode: each user's most frequent event
    type, ties broken by lexical order (Spark's F.mode() picks an
    arbitrary tie winner, which can't be oracled - count + row_number
    is the portable exact form). Two partial-agg shuffles on shrinking
    keys: (user, type) counts, then a user-partitioned window over the
    already type-cardinality-bounded aggregate."""
    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event_type"),
            F.col("n").alias("mode_count"),
        )
    )


@q(
    "q_agg_gini",
    """
    WITH u AS (
      SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY user_id
    ),
    r AS (
      SELECT cents, row_number() OVER (ORDER BY cents, user_id) AS i,
             count(*) OVER () AS n, sum(cents) OVER () AS total
      FROM u
    )
    SELECT round(CAST(2 * sum(i * cents) AS DOUBLE) / (CAST(max(n) AS DOUBLE) * max(total))
                 - (CAST(max(n) AS DOUBLE) + 1) / max(n), 6) AS gini,
           max(n) AS n_users
    FROM r
    """,
)
def q_agg_gini(spark, sf_dir):
    """Gini coefficient of per-user total consumption - the load-
    inequality index grid operators track (how concentrated demand is
    across households). Exact rank formula G = 2*sum(i*x_i)/(n*sum x)
    - (n+1)/n over ascending-sorted totals; integer-cents totals and
    an (value, user_id) rank tiebreak make the sort and the sum exact
    and engine-portable. The global position index runs over the
    USER-level aggregate — which scales with the data — via the
    two-pass range-sliced row_number
    (`operators.windows.with_global_row_number`), not a single-task
    window. sum(i*cents) accumulates in exact BIGINT on both engines
    (cast to DOUBLE only at the final ratio); at extreme scale (1e8
    users x 1e6-cent totals approaches 2^63) switch the accumulator to
    DECIMAL(38,0) before widening user counts."""
    from smart_energy_consumption_analytics_using_big_data_spark.operators.windows import (
        with_global_row_number,
    )

    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    # n/total as a 1-row broadcast, not a whole-table window (which is
    # just as single-task as an unpartitioned orderBy)
    tot = u.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total")
    )
    r = (
        with_global_row_number(
            u,
            order=[F.asc("cents"), F.asc("user_id")],
            bucket_by="cents",
            out="i",
        )
        .crossJoin(F.broadcast(tot))
        .select("cents", "i", "n", "total")
    )
    return r.agg(
        F.round(
            (2 * F.sum(F.col("i") * F.col("cents"))).cast("double")
            / (F.max("n").cast("double") * F.max("total"))
            - (F.max("n").cast("double") + 1) / F.max("n"),
            6,
        ).alias("gini"),
        F.max("n").alias("n_users"),
    )


def _kcenter_oracle(k: int = 6) -> str:
    """Chained-CTE transcription of the greedy k-center loop: c{r} =
    argmax of the running min-distance m{r-1}, m{r} = least-update.
    Generated, not hand-written, so the oracle's round count always
    matches the operator's k."""

    def dot(a: str, b: str) -> str:
        return _DOT.format(a=a, b=b)

    def d2(e: str, c: str) -> str:
        return (
            f"({dot(e + '.embedding', e + '.embedding')}"
            f" - 2*{dot(e + '.embedding', c + '.embedding')}"
            f" + {dot(c + '.embedding', c + '.embedding')})"
        )

    ctes = [
        "c1 AS (SELECT vec_id, embedding FROM embeddings e "
        f"ORDER BY {dot('e.embedding', 'e.embedding')} DESC, vec_id LIMIT 1)",
        f"m1 AS (SELECT e.vec_id, e.embedding, {d2('e', 'c')} AS md "
        "FROM embeddings e CROSS JOIN c1 c)",
    ]
    sels = ["SELECT 1 AS sel_rank, vec_id, 0.0 AS radius FROM c1"]
    for r in range(2, k + 1):
        ctes.append(
            f"c{r} AS (SELECT vec_id, embedding, md FROM m{r - 1} "
            "ORDER BY md DESC, vec_id LIMIT 1)"
        )
        sels.append(f"SELECT {r} AS sel_rank, vec_id, round(md, 6) AS radius FROM c{r}")
        if r < k:
            ctes.append(
                f"m{r} AS (SELECT m.vec_id, m.embedding, least(m.md, {d2('m', 'c')}) AS md "
                f"FROM m{r - 1} m CROSS JOIN c{r} c)"
            )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(sels)


@q("q_sample_kcenter", _kcenter_oracle(6))
def q_sample_kcenter(spark, sf_dir):
    """Greedy k-center coreset selection (Gonzalez 1985) over the
    embedding corpus: 6 maximally-spread vectors plus the coverage-
    radius sequence - diversity sampling for training-data curation
    (uniform sampling oversamples dense clusters; the coreset covers
    the space, 2-approximation guarantee). k corpus scans, centers as
    broadcast literals, argmax via TakeOrdered(1) - see
    ext/similarity.kcenter_select for the scale analysis."""
    return S.kcenter_select(t(spark, sf_dir, "embeddings"), k=6)


@q(
    "q_ts_theilsen",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    x AS (
      SELECT event_type, row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
             cents FROM d
    ),
    slopes AS (
      SELECT a.event_type,
             (b.cents - a.cents) / (100.0 * (b.i - a.i)) AS s
      FROM x a JOIN x b ON a.event_type = b.event_type AND b.i > a.i
    ),
    cum AS (
      SELECT event_type, s,
             row_number() OVER (PARTITION BY event_type ORDER BY s) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM slopes
    )
    SELECT event_type,
           round(avg(CASE WHEN rk IN ((n + 1) // 2, (n + 2) // 2) THEN s END), 6)
             AS theilsen_slope,
           max(n) AS n_pairs
    FROM cum GROUP BY event_type
    """,
)
def q_ts_theilsen(spark, sf_dir):
    """Theil-Sen robust trend per event type: the MEDIAN of all
    pairwise day-to-day slopes - breakdown point 29%, unmoved by the
    outlier days that drag OLS regr_slope (the robust companion to
    q_zipf_slope's regr_* family). The pairwise join runs on the DAILY
    ROLLUP (days^2/2 pairs per type, bounded by the calendar, never
    events^2), integer-cents daily totals keep every slope exactly
    (b-a)/(100*di), and the median is the explicit rank-crossing form
    (avg of the two middle order statistics) because engine-native
    median() interpolation is not bit-identical across engines."""
    ev = t(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    x = d.withColumn(
        "i", F.row_number().over(Window.partitionBy("event_type").orderBy("day"))
    ).select("event_type", "i", "cents")
    a, b = x.alias("a"), x.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type")) & (F.col("b.i") > F.col("a.i")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.cents") - F.col("a.cents"))
            / (F.lit(100.0) * (F.col("b.i") - F.col("a.i")))
        ).alias("s"),
    )
    cum = slopes.select(
        "event_type",
        "s",
        F.row_number().over(Window.partitionBy("event_type").orderBy("s")).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    is_mid = (F.col("rk") == F.expr("(n + 1) DIV 2")) | (
        F.col("rk") == F.expr("(n + 2) DIV 2")
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.round(F.avg(F.when(is_mid, F.col("s"))), 6).alias("theilsen_slope"),
            F.max("n").alias("n_pairs"),
        )
    )


@q(
    "q_dp_counts",
    """
    WITH c AS (
      SELECT event_type, count(*) AS true_n FROM events GROUP BY event_type
    ),
    u AS (
      SELECT event_type, true_n,
             (CAST(CAST(concat('0x', substr(md5(event_type || ':dp2024'), 1, 8))
                   AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 - 0.5 AS uni
      FROM c
    )
    SELECT event_type,
           round(true_n + (-2.0) * sign(uni) * ln(1.0 - 2.0 * abs(uni)), 6)
             AS dp_count,
           round((-2.0) * sign(uni) * ln(1.0 - 2.0 * abs(uni)), 6) AS noise
    FROM u
    """,
)
def q_dp_counts(spark, sf_dir):
    """Differentially-private count release (Laplace mechanism,
    sensitivity 1, epsilon = 0.5 -> scale b = 2): noise drawn by
    INVERSE-CDF from a seeded md5 uniform, so the release is exactly
    reproducible - the property a privacy audit trail needs (re-running
    the release must not spend fresh privacy budget or change published
    numbers). u in (-1/2, 1/2) from the hash's 32-bit head (+0.5
    half-open shift keeps ln's argument strictly positive), noise =
    -b*sign(u)*ln(1-2|u|). All double math is IEEE-identical across
    engines; the rollup is a 5-row aggregate, the mechanism a pure
    projection over it."""
    ev = t(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("true_n"))
    uni = (
        (
            F.conv(F.substring(F.md5(F.concat("event_type", F.lit(":dp2024"))), 1, 8), 16, 10)
            .cast("long")
            .cast("double")
            + F.lit(0.5)
        )
        / F.lit(4294967296.0)
        - F.lit(0.5)
    )
    noise = F.lit(-2.0) * F.signum(uni) * F.log(F.lit(1.0) - 2.0 * F.abs(uni))
    return c.select(
        "event_type",
        F.round(F.col("true_n") + noise, 6).alias("dp_count"),
        F.round(noise, 6).alias("noise"),
    )


@q(
    "q_dq_kanonymity",
    """
    WITH g AS (
      SELECT event_type, CAST(hour(ts) AS INT) AS hr,
             CAST(floor(value / 10.0) AS INT) AS vband, count(*) AS n
      FROM events GROUP BY 1, 2, 3
    )
    SELECT count(*) AS n_groups,
           min(n) AS k_anonymity,
           count(CASE WHEN n < 5 THEN 1 END) AS n_risky_groups,
           CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_risky_rows
    FROM g
    """,
)
def q_dq_kanonymity(spark, sf_dir):
    """k-anonymity audit over the quasi-identifier tuple (event type,
    hour-of-day, value band): the dataset's k is the SMALLEST
    equivalence-class size - any release is only as anonymous as its
    rarest combination - plus how many classes (and rows) fall under
    the k=5 re-identification threshold. Two shrinking partial-agg
    passes (fact -> QI classes -> one summary row); the QI rollup is
    bounded by |types| x 24 x |bands|, so the audit costs one scan at
    any event count. Pairs with q_text_piiscrub: scrub handles direct
    identifiers, this measures indirect linkability."""
    ev = t(spark, sf_dir, "events")
    g = ev.groupBy(
        "event_type",
        F.hour("ts").cast("int").alias("hr"),
        F.floor(F.col("value") / 10.0).cast("int").alias("vband"),
    ).agg(F.count(F.lit(1)).alias("n"))
    risky = F.when(F.col("n") < 5, F.col("n"))
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("n").alias("k_anonymity"),
        F.count(risky).alias("n_risky_groups"),
        F.coalesce(F.sum(risky), F.lit(0)).cast("bigint").alias("n_risky_rows"),
    )


@q(
    "q_text_search",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok
      WHERE term IN ('hash', 'join') GROUP BY 1, 2
    ),
    df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tok
      WHERE term IN ('hash', 'join') GROUP BY 1
    ),
    n AS (SELECT count(*) AS n FROM documents),
    hits AS (
      SELECT tf.doc_id,
             sum(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df)) AS score,
             count(*) AS n_terms
      FROM tf JOIN df USING (term) CROSS JOIN n GROUP BY tf.doc_id
    )
    SELECT doc_id, round(score, 6) AS score
    FROM hits WHERE n_terms = 2
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def q_text_search(spark, sf_dir):
    """Boolean keyword retrieval (hash AND join) ranked by summed
    TF-IDF - the inverted-index search primitive. The query-term
    IN-filter prunes the exploded token stream BEFORE any aggregation
    (the per-query work is proportional to the postings of the queried
    terms, not the corpus vocabulary - exactly how an inverted index
    scales), the AND is a HAVING on matched-term count, and the top-10
    is TakeOrdered. df for the two terms is a 2-row broadcast."""
    docs = t(spark, sf_dir, "documents")
    terms = ("hash", "join")
    tok = docs.select(
        "doc_id", F.explode(TX.tokens_ws(F.col("text"))).alias("term")
    ).filter(F.col("term").isin(*terms))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    hits = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.log(F.col("n").cast("double") / F.col("df"))).alias(
                "score"
            ),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .filter(F.col("n_terms") == len(terms))
    )
    return (
        hits.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


@q(
    "q_text_phrase_search",
    """
    WITH tok AS (
      SELECT doc_id, u.pos AS p, u.val AS term
      FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks)),
                      i -> {'pos': i, 'val': toks[i]})) AS u
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      )
    ),
    seq AS (
      SELECT doc_id, term,
             lead(term) OVER (PARTITION BY doc_id ORDER BY p) AS nxt
      FROM tok
    )
    SELECT doc_id, count(*) AS n_occurrences
    FROM seq WHERE term = 'hash' AND nxt = 'join'
    GROUP BY doc_id ORDER BY n_occurrences DESC, doc_id LIMIT 20
    """,
)
def q_text_phrase_search(spark, sf_dir):
    """Positional phrase search ("hash join" as ADJACENT tokens - what
    boolean AND cannot express): posexplode keeps token positions, a
    doc-partitioned lead() checks adjacency, and the per-doc occurrence
    count ranks. One shuffle on doc_id (window + rollup share it);
    window partitions are doc-sized, so the pass is embarrassingly
    parallel across documents at any corpus size. The full positional
    path is the honest exact baseline; a production index would
    pre-materialize (term, doc, positions) once and prune to the
    phrase terms' postings before the adjacency check."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(TX.tokens_ws(F.col("text"))).alias("p", "term")
    )
    seq = tok.select(
        "doc_id",
        "term",
        F.lead("term").over(Window.partitionBy("doc_id").orderBy("p")).alias("nxt"),
    )
    return (
        seq.filter((F.col("term") == "hash") & (F.col("nxt") == "join"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("doc_id"))
        .limit(20)
    )


@q(
    "q_text_bm25",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(len) AS avglen FROM dl),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok
      WHERE term IN ('hash', 'join') GROUP BY 1, 2
    ),
    df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tok
      WHERE term IN ('hash', 'join') GROUP BY 1
    ),
    scored AS (
      SELECT tf.doc_id,
             sum(ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
                 (tf.tf * 2.2) /
                 (tf.tf + 1.2 * (0.25 + 0.75 * dl.len / stats.avglen))) AS score
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, round(score, 6) AS bm25
    FROM scored ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def q_text_bm25(spark, sf_dir):
    """Okapi BM25 top-10 for the query {hash, join} (k1=1.2, b=0.75) -
    the saturating, length-normalized upgrade over raw TF-IDF and the
    standard lexical-retrieval baseline. Postings-pruned like
    q_text_search (the IN-filter cuts the token stream to the queried
    terms before aggregation); doc lengths come from one token-count
    rollup shared across all queries of the session in a real index;
    df and the corpus stats are broadcast scalars. ln/division in
    doubles is IEEE-identical across engines; round(,6) output."""
    docs = t(spark, sf_dir, "documents")
    terms = ("hash", "join")
    tok = docs.select("doc_id", F.explode(TX.tokens_ws(F.col("text"))).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    stats = dl.agg(F.count(F.lit(1)).alias("n"), F.avg("len").alias("avglen"))
    qtok = tok.filter(F.col("term").isin(*terms))
    tf = qtok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = qtok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_sat = (F.col("tf") * F.lit(2.2)) / (
        F.col("tf") + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("len") / F.col("avglen"))
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * tf_sat).alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


@q(
    "q_ts_coincidence",
    """
    WITH hourly AS (
      SELECT user_id, (epoch_us(ts) // 3600000000) AS hr,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    sys AS (
      SELECT max(total) AS system_peak FROM (
        SELECT hr, sum(cents) AS total FROM hourly GROUP BY hr
      )
    ),
    per_user AS (
      SELECT CAST(sum(mx) AS BIGINT) AS sum_user_peaks
      FROM (SELECT user_id, max(cents) AS mx FROM hourly GROUP BY user_id)
    )
    SELECT round(system_peak / 100.0, 6) AS system_peak,
           round(sum_user_peaks / 100.0, 6) AS sum_user_peaks,
           round(CAST(system_peak AS DOUBLE) / sum_user_peaks, 6)
             AS coincidence_factor
    FROM sys CROSS JOIN per_user
    """,
)
def q_ts_coincidence(spark, sf_dir):
    """Coincidence factor - the grid-planning ratio of the SYSTEM's
    peak hour to the sum of every user's INDIVIDUAL peak (diversity of
    demand: 1.0 means all households peak together, low values mean
    staggered load the feeder can absorb). One hourly (user, hr)
    rollup feeds both reductions - the system series re-aggregates it
    by hour, the per-user peaks by user - then two scalar broadcasts
    meet in a 1-row cross join. Integer-cents sums keep both peaks
    exact at any event count."""
    from smart_energy_consumption_analytics_using_big_data_spark.functions.timefns import epoch_us

    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "user_id",
            epoch_us("ts").alias("__e"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .withColumn("hr", F.expr("__e DIV 3600000000"))
        .groupBy("user_id", "hr")
        .agg(F.sum("cents").alias("cents"))
    )
    sys_peak = (
        hourly.groupBy("hr")
        .agg(F.sum("cents").alias("total"))
        .agg(F.max("total").alias("system_peak"))
    )
    user_peaks = (
        hourly.groupBy("user_id")
        .agg(F.max("cents").alias("mx"))
        .agg(F.sum("mx").alias("sum_user_peaks"))
    )
    return (
        sys_peak.crossJoin(F.broadcast(user_peaks)).select(
            F.round(F.col("system_peak") / 100.0, 6).alias("system_peak"),
            F.round(F.col("sum_user_peaks") / 100.0, 6).alias("sum_user_peaks"),
            F.round(
                F.col("system_peak").cast("double") / F.col("sum_user_peaks"), 6
            ).alias("coincidence_factor"),
        )
    )


@q(
    "q_text_pmi",
    """
    WITH tok AS (
      SELECT string_split(text, ' ') AS toks FROM documents
    ),
    uni AS (
      SELECT unnest(toks) AS w FROM tok
    ),
    uc AS (SELECT w, count(*) AS n_w FROM uni GROUP BY w),
    tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_uni FROM uc),
    bi AS (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM tok WHERE len(toks) >= 2
    ),
    bc AS (SELECT gram, count(*) AS n_g FROM bi GROUP BY gram),
    btot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_bi FROM bc)
    SELECT gram, n_g,
           round(ln((CAST(n_g AS DOUBLE) / n_bi) /
                    ((CAST(a.n_w AS DOUBLE) / n_uni) *
                     (CAST(b.n_w AS DOUBLE) / n_uni))), 6) AS pmi
    FROM bc
    JOIN uc a ON a.w = string_split(gram, ' ')[1]
    JOIN uc b ON b.w = string_split(gram, ' ')[2]
    CROSS JOIN tot CROSS JOIN btot
    WHERE n_g >= 25
    ORDER BY pmi DESC, gram LIMIT 20
    """,
)
def q_text_pmi(spark, sf_dir):
    """Collocation mining (Church & Hanks): top-20 adjacent bigrams by
    pointwise mutual information ln(p(xy)/(p(x)p(y))) with a min-count
    floor (PMI without one surfaces hapax noise). Unigram and bigram
    counts come from the same tokenized scan; the per-bigram component
    probabilities join against the unigram table (vocabulary-sized,
    shuffle on the word key); totals are 1-row broadcasts; TakeOrdered
    top-20. The statistical phrase-detection pass corpus pipelines run
    before vocabulary building."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(TX.tokens_ws(F.col("text")).alias("toks"))
    uni = toks.select(F.explode("toks").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    tot = uc.agg(F.sum("n_w").cast("bigint").alias("n_uni"))
    bi = toks.filter(F.size("toks") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("toks", i), F.element_at("toks", i + F.lit(1))
                ),
            )
        ).alias("gram")
    )
    bc = bi.groupBy("gram").agg(F.count(F.lit(1)).alias("n_g")).filter(F.col("n_g") >= 25)
    btot = bi.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("n_bi"))
    w1 = F.split(F.col("gram"), " ").getItem(0)
    w2 = F.split(F.col("gram"), " ").getItem(1)
    a = uc.select(F.col("w").alias("__w1"), F.col("n_w").alias("n_w1"))
    b = uc.select(F.col("w").alias("__w2"), F.col("n_w").alias("n_w2"))
    scored = (
        bc.withColumn("__w1", w1)
        .withColumn("__w2", w2)
        .join(a, "__w1")
        .join(b, "__w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select(
            "gram",
            "n_g",
            F.round(
                F.log(
                    (F.col("n_g").cast("double") / F.col("n_bi"))
                    / (
                        (F.col("n_w1").cast("double") / F.col("n_uni"))
                        * (F.col("n_w2").cast("double") / F.col("n_uni"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("gram")).limit(20)


@q(
    "q_ts_kaplan_meier",
    """
    WITH g AS (
      SELECT user_id, event_id, epoch_us(ts) AS e,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sid AS (
      SELECT user_id, e,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY e, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM g
    ),
    gmax AS (SELECT max(e) AS last_e FROM sid),
    sess AS (
      SELECT user_id, session_id,
             CAST((max(e) - min(e)) // 60000000 AS INT) AS t,
             CASE WHEN max(e) > (SELECT last_e FROM gmax) - 3600000000
                  THEN 0 ELSE 1 END AS completed
      FROM sid GROUP BY 1, 2
    ),
    ev_t AS (SELECT t, CAST(sum(completed) AS BIGINT) AS d, count(*) AS c
             FROM sess GROUP BY t),
    r AS (
      SELECT t, d, sum(c) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED
                                PRECEDING AND CURRENT ROW) AS n
      FROM ev_t
    ),
    km AS (
      SELECT t, d, n,
             exp(sum(CASE WHEN d < n THEN ln(1.0 - CAST(d AS DOUBLE) / n)
                          ELSE 0.0 END)
                 OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
                       CURRENT ROW)) AS s
      FROM r
    )
    SELECT t AS duration_min, d AS n_completed,
           CAST(n AS BIGINT) AS n_at_risk,
           round(s, 6) AS survival
    FROM km WHERE d > 0 AND d < n
    """,
)
def q_ts_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival curve of SESSION duration (minutes),
    right-censored for sessions still open in the stream's final hour:
    S(t) = prod over event times <= t of (1 - d_t/n_t), the product
    folded as exp of a running ln-sum so both engines accumulate in
    the same order. Sessionization reuses the 30-min-gap idiom
    (q_sessionize); the risk set n_t is a descending-t cumulative
    count. Every KM window runs over the DURATION histogram (bounded
    by distinct minute values), never the fact - the fact-sized work
    is the one user-keyed session rollup. The standard churn/engagement
    survival analysis, fully declarative and censoring-aware."""
    from smart_energy_consumption_analytics_using_big_data_spark.functions.timefns import epoch_us

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        "event_id",
        epoch_us("ts").alias("e"),
        F.when(
            epoch_us("ts") - F.lag(epoch_us("ts")).over(w) > 1_800_000_000, 1
        ).otherwise(0).alias("new_session"),
    )
    run = Window.partitionBy("user_id").orderBy("e", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sid = g.select("user_id", "e", F.sum("new_session").over(run).alias("session_id"))
    gmax = sid.agg(F.max("e").alias("last_e"))
    sess = (
        sid.groupBy("user_id", "session_id")
        .agg(F.max("e").alias("mx"), F.min("e").alias("mn"))
        .crossJoin(F.broadcast(gmax))
        .select(
            F.expr("(mx - mn) DIV 60000000").cast("int").alias("t"),
            F.when(F.col("mx") > F.col("last_e") - 3_600_000_000, 0)
            .otherwise(1)
            .alias("completed"),
        )
    )
    ev_t = sess.groupBy("t").agg(
        F.sum("completed").cast("bigint").alias("d"), F.count(F.lit(1)).alias("c")
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    r = ev_t.select("t", "d", F.sum("c").over(w_desc).alias("n"))
    w_asc = Window.orderBy(F.asc("t")).rowsBetween(Window.unboundedPreceding, 0)
    ln_term = F.when(
        F.col("d") < F.col("n"),
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n")),
    ).otherwise(F.lit(0.0))
    km = r.select("t", "d", "n", F.exp(F.sum(ln_term).over(w_asc)).alias("s"))
    return km.filter((F.col("d") > 0) & (F.col("d") < F.col("n"))).select(
        F.col("t").alias("duration_min"),
        F.col("d").alias("n_completed"),
        F.col("n").alias("n_at_risk"),
        F.round("s", 6).alias("survival"),
    )


@q(
    "q_drift_wasserstein",
    """
    WITH bounds AS (
      SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
    ),
    v AS (
      SELECT value,
             CASE WHEN epoch_us(ts) * 2 < (SELECT lo + hi FROM bounds)
                  THEN 1 ELSE 0 END AS in_a
      FROM events
    ),
    c AS (
      SELECT value,
             CAST(sum(in_a) AS BIGINT) AS na,
             CAST(sum(1 - in_a) AS BIGINT) AS nb
      FROM v GROUP BY value
    ),
    tot AS (SELECT CAST(sum(na) AS DOUBLE) AS ta, CAST(sum(nb) AS DOUBLE) AS tb FROM c),
    steps AS (
      SELECT value,
             sum(na) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS ca,
             sum(nb) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cb,
             lead(value) OVER (ORDER BY value) AS nxt
      FROM c
    )
    SELECT round(sum((nxt - value) * abs(ca / ta - cb / tb)), 6) AS w1_distance
    FROM steps CROSS JOIN tot WHERE nxt IS NOT NULL
    """,
)
def q_drift_wasserstein(spark, sf_dir):
    """Exact 1-Wasserstein (earth-mover) distance between the value
    distributions of the stream's first and second time halves - the
    drift metric that, unlike KS (sup gap) or PSI (binned), weights
    HOW FAR mass moved: the integral of |CDF_a - CDF_b| over the
    merged support, as a lead()-window sum of rectangle areas. All
    windows run over the DISTINCT-VALUE table (support-bounded, ~1e4
    rows for 2-decimal readings regardless of event count); the
    fact-sized work is one value-keyed count rollup. Completes the
    drift family: KS for alarms, PSI for binned dashboards, W1 for
    magnitude-aware comparisons."""
    from smart_energy_consumption_analytics_using_big_data_spark.functions.timefns import epoch_us

    ev = t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(epoch_us("ts")).alias("lo"), F.max(epoch_us("ts")).alias("hi")
    )
    v = ev.select("value", epoch_us("ts").alias("__e")).crossJoin(
        F.broadcast(bounds)
    ).select(
        "value",
        F.when(F.col("__e") * 2 < F.col("lo") + F.col("hi"), 1).otherwise(0).alias("in_a"),
    )
    c = v.groupBy("value").agg(
        F.sum("in_a").cast("bigint").alias("na"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("nb"),
    )
    tot = c.agg(
        F.sum("na").cast("double").alias("ta"), F.sum("nb").cast("double").alias("tb")
    )
    w_cum = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    steps = c.select(
        "value",
        F.sum("na").over(w_cum).alias("ca"),
        F.sum("nb").over(w_cum).alias("cb"),
        F.lead("value").over(Window.orderBy("value")).alias("nxt"),
    )
    return (
        steps.filter(F.col("nxt").isNotNull())
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum(
                    (F.col("nxt") - F.col("value"))
                    * F.abs(F.col("ca") / F.col("ta") - F.col("cb") / F.col("tb"))
                ),
                6,
            ).alias("w1_distance")
        )
    )


@q(
    "q_rollup_share",
    """
    WITH rev AS (
      SELECT n.n_regionkey AS rk, c.c_nationkey AS nk,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    )
    SELECT rk AS region_key, nk AS nation_key, round(rev, 2) AS revenue,
           round(rev / sum(rev) OVER (PARTITION BY rk), 6) AS share_of_region,
           round(sum(rev) OVER (PARTITION BY rk) / sum(rev) OVER (), 6)
             AS region_share_of_total
    FROM rev
    """,
)
def q_rollup_share(spark, sf_dir):
    """Share-of-parent hierarchy rollup (nation within region, region
    within total) - the ratio-to-parent OLAP read every drill-down
    report needs, as two window sums over the already-aggregated
    (region, nation) table (bounded by the geography, never the fact).
    Revenue accumulates in DECIMAL so the fact-side sum is exact; the
    shares divide after aggregation. Dimensions broadcast into the
    fact join; one fact shuffle total."""
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    rev = (
        orders.join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy(
            F.col("n_regionkey").alias("rk"), F.col("c_nationkey").alias("nk")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
            .cast("double")
            .alias("rev")
        )
    )
    w_region = Window.partitionBy("rk")
    w_all = Window.partitionBy()
    return rev.select(
        F.col("rk").alias("region_key"),
        F.col("nk").alias("nation_key"),
        F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") / F.sum("rev").over(w_region), 6).alias("share_of_region"),
        F.round(F.sum("rev").over(w_region) / F.sum("rev").over(w_all), 6).alias(
            "region_share_of_total"
        ),
    )


@q(
    "q_ab_test",
    """
    WITH assign AS (
      SELECT user_id,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR) || ':ab1'), 1, 8))
                  AS BIGINT) % 2 AS arm
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    conv AS (
      SELECT a.arm, a.user_id,
             max(CASE WHEN e.event_type = 'purchase' AND e.value >= 150 THEN 1 ELSE 0 END) AS converted
      FROM assign a JOIN events e ON e.user_id = a.user_id
      GROUP BY 1, 2
    ),
    arms AS (
      SELECT arm, count(*) AS n, CAST(sum(converted) AS BIGINT) AS x,
             sum(converted) / CAST(count(*) AS DOUBLE) AS p
      FROM conv GROUP BY arm
    ),
    wide AS (
      SELECT max(CASE WHEN arm = 0 THEN n END) AS n0,
             max(CASE WHEN arm = 0 THEN x END) AS x0,
             max(CASE WHEN arm = 0 THEN p END) AS p0,
             max(CASE WHEN arm = 1 THEN n END) AS n1,
             max(CASE WHEN arm = 1 THEN x END) AS x1,
             max(CASE WHEN arm = 1 THEN p END) AS p1
      FROM arms
    )
    SELECT n0, x0, round(p0, 6) AS p0, n1, x1, round(p1, 6) AS p1,
           round((p1 - p0) /
                 sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1)) *
                      (1 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1)) *
                      (1.0 / n0 + 1.0 / n1)), 6) AS z_stat
    FROM wide
    """,
)
def q_ab_test(spark, sf_dir):
    """Two-proportion z-test on a DETERMINISTIC hash-assigned A/B
    split (md5(user_id, salt) % 2 - reproducible arms, the same idiom
    as q_split_assign): per-arm conversion (a purchase of
    >= 150 - the threshold keeps the rate off the 0/1 saturation a
    pooled SE cannot divide through), pooled standard error, z statistic. The inference runs over a 2-row arm
    table pivoted to one row; the fact-sized work is one user-grain
    conversion rollup. The analysis half of an experimentation
    platform, declarative end-to-end."""
    ev = t(spark, sf_dir, "events")
    arm = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":ab1"))), 1, 8),
            16,
            10,
        ).cast("long"),
        F.lit(2),
    )
    conv = (
        ev.select(
            "user_id",
            ((F.col("event_type") == "purchase") & (F.col("value") >= 150))
            .cast("int")
            .alias("c"),
        )
        .groupBy("user_id")
        .agg(F.max("c").alias("converted"))
        .select(arm.alias("arm"), "converted")
    )
    arms = conv.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").cast("bigint").alias("x"),
        (F.sum("converted") / F.count(F.lit(1)).cast("double")).alias("p"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("x"))).alias("x0"),
        F.max(F.when(F.col("arm") == 0, F.col("p"))).alias("p0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("x"))).alias("x1"),
        F.max(F.when(F.col("arm") == 1, F.col("p"))).alias("p1"),
    )
    pooled = (F.col("x0") + F.col("x1")).cast("double") / (F.col("n0") + F.col("n1"))
    se = F.sqrt(pooled * (1 - pooled) * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    return wide.select(
        "n0",
        "x0",
        F.round("p0", 6).alias("p0"),
        "n1",
        "x1",
        F.round("p1", 6).alias("p1"),
        F.round((F.col("p1") - F.col("p0")) / se, 6).alias("z_stat"),
    )


@q(
    "q_ts_periodogram",
    """
    WITH h AS (
      SELECT (epoch_us(ts) // 3600000000) AS hr,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT cents, row_number() OVER (ORDER BY hr) - 1 AS t,
             avg(cents) OVER () AS mu, count(*) OVER () AS n
      FROM h
    ),
    p AS (SELECT unnest([6, 12, 24, 168]) AS period),
    terms AS (
      SELECT p.period,
             (idx.cents - idx.mu) *
               cos(2 * pi() * (idx.t % p.period) / p.period) AS re_t,
             (idx.cents - idx.mu) *
               sin(2 * pi() * (idx.t % p.period) / p.period) AS im_t,
             idx.n
      FROM idx CROSS JOIN p
    )
    SELECT period,
           round(sqrt(sum(re_t) * sum(re_t) + sum(im_t) * sum(im_t))
                 / (100.0 * max(n)), 6) AS amplitude
    FROM terms GROUP BY period
    """,
)
def q_ts_periodogram(spark, sf_dir):
    """Periodicity scan of the hourly load series: projection of the
    mean-centered series onto sinusoids of candidate periods (6h, 12h,
    24h, weekly) - amplitude peaks reveal which seasonality the
    forecast models should encode (the quantitative justification for
    q_ts_seasonal_naive's daily lag). Engine-portable trig: the phase
    is 2*pi*((t mod p)/p) with INTEGER mod, so cos/sin arguments stay
    in [0, 2*pi) and both engines' libm agree at 6 dp - naive 2*pi*k*t
    arguments in the hundreds of radians would hit argument-reduction
    divergence. Everything runs over the bounded hourly rollup; the
    4-period fan-out is a literal cross join."""
    from smart_energy_consumption_analytics_using_big_data_spark.functions.timefns import epoch_us

    ev = t(spark, sf_dir, "events")
    h = (
        ev.select(epoch_us("ts").alias("__e"), "value")
        .withColumn("hr", F.expr("__e DIV 3600000000"))
        .groupBy("hr")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    w_all = Window.partitionBy()
    idx = h.select(
        "cents",
        (F.row_number().over(Window.orderBy("hr")) - 1).alias("t"),
        F.avg("cents").over(w_all).alias("mu"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    periods = spark.range(1).select(
        F.explode(F.array(F.lit(6), F.lit(12), F.lit(24), F.lit(168))).alias("period")
    )
    angle = (
        F.lit(2.0)
        * F.lit(3.141592653589793)
        * (F.col("t") % F.col("period"))
        / F.col("period")
    )
    centered = F.col("cents") - F.col("mu")
    terms = idx.crossJoin(F.broadcast(periods)).select(
        "period",
        (centered * F.cos(angle)).alias("re_t"),
        (centered * F.sin(angle)).alias("im_t"),
        "n",
    )
    return terms.groupBy("period").agg(
        F.round(
            F.sqrt(
                F.sum("re_t") * F.sum("re_t") + F.sum("im_t") * F.sum("im_t")
            )
            / (F.lit(100.0) * F.max("n")),
            6,
        ).alias("amplitude")
    )


@q(
    "q_dedup_ppjoin_groups",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE.strip().lstrip()}
    ,
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT doc_a, doc_b
      FROM pairs JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
      WHERE common * 5 >= 3 * (sa.n + sb.n - common)
    ),
    sym AS (SELECT doc_a AS a, doc_b AS b FROM edges
            UNION ALL SELECT doc_b, doc_a FROM edges),
    reach(id, lbl) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM sym)
      UNION
      SELECT s.a, r.lbl FROM sym s JOIN reach r ON r.id = s.b
    )
    SELECT id AS doc_id, min(lbl) AS component,
           CASE WHEN id = min(lbl) THEN 1 ELSE 0 END AS keep
    FROM reach GROUP BY id
    """,
)
def q_dedup_ppjoin_groups(spark, sf_dir):
    """EXACT near-dedup groups: PPJoin threshold edges (lossless
    Jaccard >= 0.6, q_dedup_ppjoin) fed to pointer-doubling connected
    components - the deterministic production composition where recall
    matters more than the probabilistic MinHash path (contract or
    compliance dedup: every qualifying pair is in the graph BY PROOF,
    not with LSH probability). Component id = min member = the doc to
    keep; `keep` flags canonicals. Oracle: recursive CTE over the
    all-pairs threshold edges (identical edge set by the prefix
    lemma)."""
    sh = D.shingle_table(t(spark, sf_dir, "documents"), n=3, max_df=100, keep_df=True)
    edges = D.prefix_filtered_pairs(sh, t_num=3, t_den=5).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    comp = D.connected_components(edges)
    return comp.select(
        F.col("id").alias("doc_id"),
        "component",
        (F.col("id") == F.col("component")).cast("int").alias("keep"),
    )


from smart_energy_consumption_analytics_using_big_data_spark.plans._registry import (  # noqa: E402
    ORACLE as _ORACLE_REG,
)

@q(
    "q_sim_ann_recall",
    f"""
    WITH ivf AS (SELECT vec_id FROM ({_ORACLE_REG['q_sim_ann_ivf']})),
    ex AS (SELECT vec_id FROM ({_ORACLE_REG['q_sim_cosine_topk']}))
    SELECT round(count(*) / 10.0, 6) AS recall_at_10
    FROM ivf JOIN ex USING (vec_id)
    """,
)
def q_sim_ann_recall(spark, sf_dir):
    """ANN quality as a FIRST-CLASS measured output: recall@10 of the
    IVF nprobe=2 search against exact brute-force cosine, both
    deterministic, so the metric itself is hash-oracled (the oracle
    composes the two queries' own oracle SQL - one source of truth).
    This is the accept/reject dial for any approximate index: probe
    fewer cells -> faster -> this number says what it cost. The
    pytest floor (test_ivf_ann_recall) guards regressions; this query
    reports the exact value."""
    emb = t(spark, sf_dir, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    ivf = S.ann_topk_ivf(emb, query, k=10, nprobe=2).select("vec_id")
    ex = S.cosine_topk(emb, query, k=10).select("vec_id")
    return ivf.join(ex, "vec_id").agg(
        F.round(F.count(F.lit(1)) / 10.0, 6).alias("recall_at_10")
    )


@q(
    "q_rec_item_sim",
    """
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    sz AS (SELECT l_partkey, count(*) AS n FROM basket GROUP BY 1),
    co AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_co
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_co,
           round(n_co / sqrt(CAST(sa.n AS DOUBLE) * sb.n), 6) AS cosine_sim
    FROM co JOIN sz sa ON sa.l_partkey = part_a JOIN sz sb ON sb.l_partkey = part_b
    WHERE n_co >= 2
    ORDER BY cosine_sim DESC, part_a, part_b LIMIT 20
    """,
)
def q_rec_item_sim(spark, sf_dir):
    """Item-item collaborative filtering: top part pairs by co-purchase
    cosine n_co / sqrt(n_a * n_b) with a min-support floor - the
    similarity table behind "customers also bought". Same inverted-
    index shape as the text dedup family (basket = posting list keyed
    by order): pairs enumerate IN-ROW from the per-order item-set
    array (ext.graph.basket_pairs — no fact self-join, one lineitem
    shuffle), so basket-size capping is the hot-key guard at scale
    exactly like shingle df pruning (synthetic orders are small; the
    cap is a no-op here and the min-support floor keeps the output
    dense pairs only). TakeOrdered top-20."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import (
        basket_pairs,
        order_baskets,
    )

    li = t(spark, sf_dir, "lineitem")
    baskets = order_baskets(
        li.select("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey"
    )
    # per-part order count from the basket arrays (collect_set already
    # dedup'd within order) — the identical exchange in both branches
    # is computed once (ReusedExchange), not per consumer
    sz = (
        baskets.select(F.explode("__items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    co = (
        basket_pairs(baskets)
        .groupBy(F.col("id_a").alias("part_a"), F.col("id_b").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 2)
    )
    sa = sz.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    return (
        co.join(sa, "part_a")
        .join(sb, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_co",
            F.round(
                F.col("n_co") / F.sqrt(F.col("n_a").cast("double") * F.col("n_b")), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


@q(
    "q_rec_assoc_rules",
    """
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    nb AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM basket),
    sz AS (SELECT l_partkey, count(*) AS n FROM basket GROUP BY 1),
    co AS (
      SELECT a.l_partkey AS lhs, b.l_partkey AS rhs, count(*) AS n_co
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    )
    SELECT lhs, rhs, n_co,
           round(n_co / CAST(sa.n AS DOUBLE), 6) AS confidence,
           round((n_co * CAST(nb.n_orders AS DOUBLE)) / (sa.n * CAST(sb.n AS DOUBLE)), 6)
             AS lift
    FROM co JOIN sz sa ON sa.l_partkey = lhs JOIN sz sb ON sb.l_partkey = rhs
    CROSS JOIN nb
    WHERE n_co >= 3
    ORDER BY lift DESC, lhs, rhs LIMIT 20
    """,
)
def q_rec_assoc_rules(spark, sf_dir):
    """Association rules lhs=>rhs over order baskets: support (co-count
    floor), CONFIDENCE n_co/n_lhs (directed - the two directions of a
    pair differ, hence <> not <), and LIFT vs independence - the
    market-basket triple that separates 'popular together' from
    'predictive of each other'. Same in-row basket-pair shape as
    q_rec_item_sim (directed=True emits both pair orientations — the
    ``<>`` rule); the order-count denominator is a 1-row broadcast."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import (
        basket_pairs,
        order_baskets,
    )

    li = t(spark, sf_dir, "lineitem")
    baskets = order_baskets(
        li.select("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey"
    )
    nb = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    sz = (
        baskets.select(F.explode("__items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    co = (
        basket_pairs(baskets, directed=True)
        .groupBy(F.col("id_a").alias("lhs"), F.col("id_b").alias("rhs"))
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 3)
    )
    sa = sz.select(F.col("l_partkey").alias("lhs"), F.col("n").alias("n_lhs"))
    sb = sz.select(F.col("l_partkey").alias("rhs"), F.col("n").alias("n_rhs"))
    return (
        co.join(sa, "lhs")
        .join(sb, "rhs")
        .crossJoin(F.broadcast(nb))
        .select(
            "lhs",
            "rhs",
            "n_co",
            F.round(F.col("n_co") / F.col("n_lhs").cast("double"), 6).alias("confidence"),
            F.round(
                (F.col("n_co") * F.col("n_orders").cast("double"))
                / (F.col("n_lhs") * F.col("n_rhs").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("lhs"), F.asc("rhs"))
        .limit(20)
    )


@q(
    "q_text_trending",
    """
    WITH halves AS (
      SELECT doc_id % 2 AS half, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    c AS (
      SELECT token,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_then,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_now
      FROM halves GROUP BY token
    )
    SELECT token, n_then, n_now,
           round(ln((n_now + 1.0) / (n_then + 1.0)), 6) AS log_ratio
    FROM c WHERE n_then + n_now >= 50
    ORDER BY log_ratio DESC, token LIMIT 15
    """,
)
def q_text_trending(spark, sf_dir):
    """Trending-term detection: add-one-smoothed log frequency ratio
    between two corpus slices (here the even/odd doc halves as the
    deterministic stand-in for last-week/this-week), support-floored
    so rare tokens don't fake trends - the burst-detection pass behind
    'rising topics' dashboards. One token explode, conditional counts
    per slice, vocabulary-bounded everything after."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(TX.tokens_ws(F.col("text"))).alias("token"),
    )
    c = tok.groupBy("token").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("bigint").alias("n_then"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("bigint").alias("n_now"),
    )
    return (
        c.filter(F.col("n_then") + F.col("n_now") >= 50)
        .select(
            "token",
            "n_then",
            "n_now",
            F.round(
                F.log((F.col("n_now") + 1.0) / (F.col("n_then") + 1.0)), 6
            ).alias("log_ratio"),
        )
        .orderBy(F.desc("log_ratio"), F.asc("token"))
        .limit(15)
    )


@q(
    "q_dedup_source_overlap",
    f"""
    WITH {_SHINGLES_CTE},
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    near AS (
      SELECT doc_a, doc_b
      FROM pairs JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
      WHERE common * 5 >= 3 * (sa.n + sb.n - common)
    ),
    labeled AS (
      SELECT least(da.source, db.source) AS source_x,
             greatest(da.source, db.source) AS source_y,
             n.doc_a, n.doc_b
      FROM near n
      JOIN documents da ON da.doc_id = n.doc_a
      JOIN documents db ON db.doc_id = n.doc_b
    )
    SELECT source_x, source_y, count(*) AS n_pairs,
           CAST(count(DISTINCT doc_a) + count(DISTINCT doc_b) AS BIGINT)
             AS n_docs_involved
    FROM labeled GROUP BY 1, 2
    """,
)
def q_dedup_source_overlap(spark, sf_dir):
    """Cross-source duplication matrix: near-dup pairs (exact PPJoin
    threshold, Jaccard >= 0.6) rolled up by unordered source pair -
    the question a multi-source corpus build asks FIRST (how much of
    source B is already in source A decides ingestion order and
    licensing exposure). Source labels join onto the pair list (pair
    table sized by near-dups, not the corpus), least/greatest
    canonicalizes the unordered pair. Everything upstream is the
    proven prefix-filtered join."""
    sh = D.shingle_table(t(spark, sf_dir, "documents"), n=3, max_df=100, keep_df=True)
    near = D.prefix_filtered_pairs(sh, t_num=3, t_den=5).select("doc_a", "doc_b")
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    labeled = (
        near.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
            "doc_a",
            "doc_b",
        )
    )
    return labeled.groupBy("source_x", "source_y").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (F.countDistinct("doc_a") + F.countDistinct("doc_b"))
        .cast("bigint")
        .alias("n_docs_involved"),
    )


@q(
    "q_docs_quality_by_lang",
    """
    WITH q AS (
      SELECT doc_id, lang,
             round(length(replace(text, ' ', '')) /
                   len(string_split(text, ' ')), 6) AS score
      FROM documents
    ),
    ranked AS (
      SELECT lang, score,
             row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
      FROM q
    ),
    m AS (
      SELECT lang, min(CASE WHEN rk * 2 >= n THEN score END) AS med
      FROM ranked GROUP BY lang
    )
    SELECT q.lang, count(*) AS n_docs, round(max(m.med), 6) AS median_score,
           CAST(sum(CASE WHEN q.score >= m.med THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM q JOIN m USING (lang) GROUP BY q.lang
    """,
)
def q_docs_quality_by_lang(spark, sf_dir):
    """LANGUAGE-ADAPTIVE quality gate: each language's keep threshold
    is its OWN median quality score (avg token length here), because a
    fixed global cutoff systematically biases a multilingual corpus -
    agglutinative languages run long tokens, isolating ones short.
    The per-group median is the explicit rank-crossing form
    (cross-engine exact); the threshold table is |langs| rows,
    broadcast back onto the scored docs. This group-adaptive
    thresholding is the multilingual companion to the absolute-floor
    q_docs_quality_filter."""
    docs = t(spark, sf_dir, "documents")
    score = F.round(
        F.length(F.regexp_replace("text", " ", ""))
        / F.size(TX.tokens_ws(F.col("text"))),
        6,
    )
    q_ = docs.select("doc_id", "lang", score.alias("score"))
    wr = Window.partitionBy("lang").orderBy("score", "doc_id")
    wn = Window.partitionBy("lang")
    ranked = q_.select(
        "lang",
        "score",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    m = ranked.groupBy("lang").agg(
        F.min(F.when(F.col("rk") * 2 >= F.col("n"), F.col("score"))).alias("med")
    )
    return (
        q_.join(F.broadcast(m), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.max("med"), 6).alias("median_score"),
            F.sum((F.col("score") >= F.col("med")).cast("int"))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


@q(
    "q_ts_mann_kendall",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    x AS (
      SELECT event_type, row_number() OVER (PARTITION BY event_type ORDER BY day)
               AS i, cents
      FROM d
    ),
    pairs AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat,
             count(*) AS n_pairs
      FROM x a JOIN x b ON a.event_type = b.event_type AND b.i > a.i
      GROUP BY a.event_type
    ),
    sized AS (SELECT event_type, count(*) AS n FROM x GROUP BY event_type)
    SELECT p.event_type, p.s_stat, z.n,
           round((p.s_stat - sign(p.s_stat)) /
                 sqrt(z.n * (z.n - 1.0) * (2 * z.n + 5) / 18.0), 6) AS mk_z
    FROM pairs p JOIN sized z USING (event_type)
    """,
)
def q_ts_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend test per series: S = sum of pairwise
    direction signs over the daily rollup (exact integer - ties
    contribute 0), normalized by the no-ties variance
    n(n-1)(2n+5)/18 with the continuity correction - the
    significance companion to q_ts_theilsen's robust slope (slope
    says how steep, MK-z says whether it's real). Same calendar-
    bounded pair join as Theil-Sen: days^2/2 per series, never
    events^2."""
    ev = t(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    x = d.withColumn(
        "i", F.row_number().over(Window.partitionBy("event_type").orderBy("day"))
    ).select("event_type", "i", "cents")
    a, b = x.alias("a"), x.alias("b")
    sgn = (
        F.when(F.col("b.cents") > F.col("a.cents"), 1)
        .when(F.col("b.cents") < F.col("a.cents"), -1)
        .otherwise(0)
    )
    pairs = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.i") > F.col("a.i")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(F.sum(sgn).cast("bigint").alias("s_stat"), F.count(F.lit(1)).alias("n_pairs"))
    )
    sized = x.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    var = F.col("n") * (F.col("n") - 1.0) * (2 * F.col("n") + 5) / 18.0
    return (
        pairs.join(sized, "event_type")
        .select(
            "event_type",
            "s_stat",
            "n",
            F.round(
                (F.col("s_stat") - F.signum(F.col("s_stat").cast("double")))
                / F.sqrt(var),
                6,
            ).alias("mk_z"),
        )
    )


@q(
    "q_attribution",
    """
    WITH touches AS (
      SELECT user_id AS t_user, ts AS touch_ts, event_id AS touch_id,
             'ch' || CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) % 4
                          AS VARCHAR) AS channel
      FROM events WHERE event_type IN ('click', 'view')
    ),
    conv AS (
      SELECT user_id, event_id AS conv_id, ts AS conv_ts, value AS revenue
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT c.conv_id, c.revenue, t.touch_ts, t.touch_id, t.channel
      FROM conv c LEFT JOIN touches t
        ON c.user_id = t.t_user
       AND t.touch_ts <= c.conv_ts
       AND t.touch_ts >= c.conv_ts - INTERVAL 7 DAY
    ),
    r AS (
      SELECT coalesce(channel, 'direct') AS channel, revenue,
             row_number() OVER (PARTITION BY conv_id
                                ORDER BY touch_ts, touch_id) AS rn_f,
             row_number() OVER (PARTITION BY conv_id
                                ORDER BY touch_ts DESC, touch_id DESC) AS rn_l,
             count(touch_id) OVER (PARTITION BY conv_id) AS n_touch
      FROM j
    )
    SELECT channel,
           CAST(SUM(CASE WHEN rn_f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch,
           CAST(SUM(CASE WHEN rn_l = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch,
           round(CAST(SUM(CAST(round(CAST(1.0 AS DOUBLE) / greatest(n_touch, 1), 12)
                               AS DECIMAL(28,12))) AS DOUBLE), 6) AS linear,
           round(CAST(SUM(CAST(round(revenue / greatest(n_touch, 1), 12)
                               AS DECIMAL(28,12))) AS DOUBLE), 6) AS linear_revenue
    FROM r GROUP BY channel
    """,
)
def q_attribution(spark, sf_dir):
    """Multi-touch attribution: every purchase credits the click/view
    touchpoints of the same user in the trailing 7 days under three
    models at once — first-touch, last-touch, and linear (1/n split,
    revenue-weighted too); conversions with no qualifying touch credit
    a 'direct' channel via the LEFT join's null branch. One equi-join
    on user_id (the time bounds ride along as join filters — no range
    explosion), per-conversion windows for position/count, then a
    channel rollup with decimal-summed fractional credits. The
    marketing-attribution shape every event warehouse runs; channel is
    derived from the props JSON (ch0-ch3)."""
    ev = t(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("touch_ts"),
        F.col("event_id").alias("touch_id"),
        F.concat(
            F.lit("ch"),
            (F.get_json_object("props", "$.k").cast("int") % 4).cast("string"),
        ).alias("channel"),
    )
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("conv_ts"),
        F.col("value").alias("revenue"),
    )
    j = conv.join(
        touches,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("touch_ts") <= F.col("conv_ts"))
        & (F.col("touch_ts") >= F.col("conv_ts") - F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    w_first = Window.partitionBy("conv_id").orderBy("touch_ts", "touch_id")
    w_last = Window.partitionBy("conv_id").orderBy(
        F.desc("touch_ts"), F.desc("touch_id")
    )
    w_n = Window.partitionBy("conv_id")
    r = j.select(
        F.coalesce("channel", F.lit("direct")).alias("channel"),
        "revenue",
        F.row_number().over(w_first).alias("rn_f"),
        F.row_number().over(w_last).alias("rn_l"),
        F.count("touch_id").over(w_n).alias("n_touch"),
    )
    nt = F.greatest("n_touch", F.lit(1))
    return r.groupBy("channel").agg(
        F.sum(F.when(F.col("rn_f") == 1, 1).otherwise(0)).alias("first_touch"),
        F.sum(F.when(F.col("rn_l") == 1, 1).otherwise(0)).alias("last_touch"),
        F.round(
            F.sum(F.round(F.lit(1.0) / nt, 12).cast("decimal(28,12)")).cast("double"),
            6,
        ).alias("linear"),
        F.round(
            F.sum(F.round(F.col("revenue") / nt, 12).cast("decimal(28,12)")).cast(
                "double"
            ),
            6,
        ).alias("linear_revenue"),
    )


@q(
    "q_ml_isotonic",
    """
    WITH binned AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
             ntile(50) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
      FROM orders
    ),
    b AS (SELECT bin, count(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
          FROM binned GROUP BY bin),
    p AS (SELECT bin, n, pos,
                 CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
                 CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
          FROM b),
    seg AS (
      SELECT j.bin AS jb, k.bin AS kb,
             CAST(k.cp - (j.cp - j.pos) AS DOUBLE)
               / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS a
      FROM p j JOIN p k ON j.bin <= k.bin
    ),
    mn AS (
      SELECT i.bin, s.jb, min(s.a) AS m
      FROM p i JOIN seg s ON s.jb <= i.bin AND s.kb >= i.bin
      GROUP BY i.bin, s.jb
    ),
    fit AS (SELECT bin, round(max(m), 6) AS fitted FROM mn GROUP BY bin)
    SELECT b.bin, b.n, b.pos,
           round(CAST(b.pos AS DOUBLE) / b.n, 6) AS raw_rate,
           fit.fitted
    FROM b JOIN fit ON fit.bin = b.bin
    """,
)
def q_ml_isotonic(spark, sf_dir):
    """Isotonic calibration (pool-adjacent-violators) of the
    price->urgency rate: orders land in 50 equal-count score bins
    (deterministic ntile with a key tiebreak), and the monotone fit is
    computed through the PAV minimax identity fitted_i = max_{j<=i}
    min_{k>=i} mean(y, bins j..k) over prefix sums — the exact PAV
    solution with no sequential pooling loop, so it is pure joins +
    min/max over a 50-row bin table and oracle-checkable (pytest also
    pins it against pyspark.ml's IsotonicRegression). The reliability-
    curve calibration step behind every score-producing model. Scale
    note: the global ntile sorts once (same trade as every exact
    quantile here — the sketch path derives cut points from
    approx_quantile); the minimax self-joins are bin-count-bounded
    (50x50), data-size-independent. The equal-count binning itself is
    the two-pass range-partitioned ntile
    (`operators.windows.with_global_ntile`) — the r5 version's
    unpartitioned window sorted every order on ONE task."""
    from smart_energy_consumption_analytics_using_big_data_spark.operators.windows import with_global_ntile

    o = t(spark, sf_dir, "orders")
    binned = with_global_ntile(
        o.select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("y"),
            "o_totalprice",
            "o_orderkey",
        ),
        order=[F.asc("o_totalprice"), F.asc("o_orderkey")],
        k=50,
        bucket_by="o_totalprice",
        out="bin",
    ).select("y", "bin")
    b = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").cast("bigint").alias("pos")
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    p = b.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(wc).alias("cn"),
        F.sum("pos").over(wc).alias("cp"),
    )
    jdf = p.select(
        F.col("bin").alias("jb"),
        (F.col("cn") - F.col("n")).alias("cn0"),
        (F.col("cp") - F.col("pos")).alias("cp0"),
    )
    kdf = p.select(F.col("bin").alias("kb"), "cn", "cp")
    seg = jdf.join(kdf, F.col("jb") <= F.col("kb")).select(
        "jb",
        "kb",
        (
            (F.col("cp") - F.col("cp0")).cast("double")
            / (F.col("cn") - F.col("cn0")).cast("double")
        ).alias("a"),
    )
    ib = p.select(F.col("bin").alias("i"))
    mn = (
        ib.join(seg, (F.col("jb") <= F.col("i")) & (F.col("kb") >= F.col("i")))
        .groupBy("i", "jb")
        .agg(F.min("a").alias("m"))
    )
    fit = mn.groupBy("i").agg(F.round(F.max("m"), 6).alias("fitted"))
    return b.join(fit, b["bin"] == fit["i"]).select(
        "bin",
        "n",
        "pos",
        F.round(F.col("pos").cast("double") / F.col("n"), 6).alias("raw_rate"),
        "fitted",
    )


@q(
    "q_ts_holt",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS date, {dsum} AS v
      FROM events GROUP BY 1, 2
    ),
    fr AS (
      SELECT user_id, date,
             list(v) OVER (PARTITION BY user_id ORDER BY date
                           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS vals
      FROM daily
    ),
    sm AS (
      SELECT user_id, date,
             CAST(list_sum(list_transform(generate_series(1, len(vals)),
               i -> CAST(CAST(0.4 AS DOUBLE) * power(0.6, len(vals) - i)
                         AS DECIMAL(16,14))
                    * CAST(vals[i] AS DECIMAL(12,6))))
                  AS DECIMAL(32,20)) AS s1,
             CAST(list_sum(list_transform(generate_series(1, len(vals)),
               i -> CAST((CAST(0.16 AS DOUBLE) * (len(vals) - i + 1))
                         * power(0.6, len(vals) - i) AS DECIMAL(17,15))
                    * CAST(vals[i] AS DECIMAL(12,6))))
                  AS DECIMAL(33,21)) AS s2
      FROM fr
    ),
    lv AS (
      SELECT user_id, date, s1, s2,
             CAST(2 AS DECIMAL(2,0)) * s1 - s2 AS level_dec,
             CAST(s1 - s2 AS DOUBLE) AS diff
      FROM sm
    )
    SELECT user_id, date,
           CAST(round(level_dec, 6) AS DOUBLE) AS level,
           round((CAST(0.4 AS DOUBLE) / CAST(0.6 AS DOUBLE)) * diff, 6) AS trend,
           round(CAST(level_dec AS DOUBLE)
                 + (CAST(0.4 AS DOUBLE) / CAST(0.6 AS DOUBLE)) * diff, 6)
             AS forecast_next
    FROM lv
    """.format(dsum=DSUM("value")),
)
def q_ts_holt(spark, sf_dir):
    """Brown double-exponential smoothing (Holt's linear method with a
    single alpha=0.4): per user-day series, s1/s2 expand to CLOSED-FORM
    weighted sums over a 14-day trailing frame — s1 uses weights
    a(1-a)^k, s2 the convolved (k+1)a^2(1-a)^k — so the two smoothing
    recurrences become one collect_list window plus indexed transforms
    (the q_window_ewma pattern), no sequential state. level = 2*s1-s2,
    trend = a/(1-a)*(s1-s2), one-step forecast = level + trend: the
    trend-aware forecasting the reference's dashboards approximate
    with plain rolling means. Exactness discipline: the true weights
    a(1-a)^k are FINITE decimals, so each is recovered exactly from the
    (engine-dependent, ulp-off) double pow by a DECIMAL(16,14) cast,
    and terms/sums stay in exact decimal — JVM Math.pow vs DuckDB pow
    ulp drift cannot flip a round-half boundary (level is also a finite
    decimal; only the irrational a/(1-a) factor computes in double)."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("date")
    ).agg(sum_exact(F.col("value")).alias("v"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("date")
        .rowsBetween(-13, Window.currentRow)
    )
    fr = daily.select("user_id", "date", F.collect_list("v").over(w).alias("vals"))
    m = F.size("vals")

    def fold(c, acc_type):
        return F.aggregate(
            c,
            F.lit(0).cast(acc_type),
            lambda a, b: (a + b).cast(acc_type),
        )

    s1 = fold(
        F.transform(
            "vals",
            lambda x, i: (F.lit(0.4) * F.pow(F.lit(0.6), (m - 1 - i))).cast(
                "decimal(16,14)"
            )
            * x.cast("decimal(12,6)"),
        ),
        "decimal(32,20)",
    )
    s2 = fold(
        F.transform(
            "vals",
            lambda x, i: (
                (F.lit(0.16) * (m - i)) * F.pow(F.lit(0.6), (m - 1 - i))
            ).cast("decimal(17,15)")
            * x.cast("decimal(12,6)"),
        ),
        "decimal(33,21)",
    )
    sm = fr.select("user_id", "date", s1.alias("s1"), s2.alias("s2"))
    lv = sm.select(
        "user_id",
        "date",
        (F.lit(2).cast("decimal(2,0)") * F.col("s1") - F.col("s2")).alias(
            "level_dec"
        ),
        (F.col("s1") - F.col("s2")).cast("double").alias("diff"),
    )
    ratio = F.lit(0.4) / F.lit(0.6)
    return lv.select(
        "user_id",
        "date",
        F.round("level_dec", 6).cast("double").alias("level"),
        F.round(ratio * F.col("diff"), 6).alias("trend"),
        F.round(
            F.col("level_dec").cast("double") + ratio * F.col("diff"), 6
        ).alias("forecast_next"),
    )


@q(
    "q_feature_quantile_norm",
    """
    WITH s AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS ns
      FROM documents
    ),
    g AS (
      SELECT CAST(n_chars AS DOUBLE) AS gv,
             row_number() OVER (ORDER BY n_chars, doc_id) AS gi
      FROM documents
    ),
    posd AS (
      SELECT doc_id, source, n_chars,
             (CASE WHEN ns = 1 THEN CAST(0.0 AS DOUBLE)
                   ELSE CAST(r - 1 AS DOUBLE) / CAST(ns - 1 AS DOUBLE) END)
               * CAST((SELECT count(*) FROM documents) - 1 AS DOUBLE) AS pos
      FROM s
    )
    SELECT p.doc_id, p.source, p.n_chars,
           round(g0.gv + (p.pos - floor(p.pos))
                         * (coalesce(g1.gv, g0.gv) - g0.gv), 6) AS qnorm
    FROM posd p
    JOIN g g0 ON g0.gi = CAST(floor(p.pos) AS BIGINT) + 1
    LEFT JOIN g g1 ON g1.gi = CAST(floor(p.pos) AS BIGINT) + 2
    """,
)
def q_feature_quantile_norm(spark, sf_dir):
    """Quantile normalization across sources: each document's length
    feature maps to the GLOBAL inverse-CDF value at its within-source
    percent-rank (linear interpolation between the two straddling
    global order statistics) — after it, every source has the same
    length distribution, the batch-effect correction used before
    mixing heterogeneous corpus sources. Per-source ranks are one
    window pass; the global sorted index — the one inherent global
    order of any exact quantile transform — is built with the two-pass
    range-sliced row_number (`operators.windows.with_global_row_number`)
    rather than a single-task window (sketch path: interpolate against
    approx_quantile cut points); the lookup itself is two integer
    equi-joins on the floor/ceil positions plus a 1-row broadcast of
    the corpus count."""
    from smart_energy_consumption_analytics_using_big_data_spark.operators.windows import (
        with_global_row_number,
    )

    d = t(spark, sf_dir, "documents")
    nrow = d.agg(F.count(F.lit(1)).alias("__N"))
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("source")
    s = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(ws).alias("r"),
        F.count(F.lit(1)).over(wn).alias("ns"),
    )
    g = with_global_row_number(
        d.select("n_chars", "doc_id"),
        order=[F.asc("n_chars"), F.asc("doc_id")],
        bucket_by="n_chars",
        out="gi",
    ).select(F.col("n_chars").cast("double").alias("gv"), "gi")
    pos = (
        F.when(F.col("ns") == 1, F.lit(0.0)).otherwise(
            (F.col("r") - 1).cast("double") / (F.col("ns") - 1).cast("double")
        )
    ) * (F.col("__N") - 1).cast("double")
    posd = s.crossJoin(F.broadcast(nrow)).select(
        "doc_id", "source", "n_chars", pos.alias("pos")
    )
    idx0 = F.floor("pos").cast("bigint")
    p0 = posd.select("*", (idx0 + 1).alias("gi0"), (idx0 + 2).alias("gi1"))
    g0 = g.select(F.col("gi").alias("gi0"), F.col("gv").alias("gv0"))
    g1 = g.select(F.col("gi").alias("gi1"), F.col("gv").alias("gv1"))
    return (
        p0.join(g0, "gi0")
        .join(g1, "gi1", "left")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.round(
                F.col("gv0")
                + (F.col("pos") - F.floor("pos"))
                * (F.coalesce("gv1", "gv0") - F.col("gv0")),
                6,
            ).alias("qnorm"),
        )
    )


_TEXTRANK_EDGES = """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    adj AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
      FROM tok WHERE len(toks) >= 2
    ),
    pairs AS (
      SELECT DISTINCT least(toks[i], toks[i+1]) AS a,
             greatest(toks[i], toks[i+1]) AS b
      FROM adj WHERE toks[i] <> toks[i+1]
    ),
    e AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL
      SELECT b, a FROM pairs
    )
"""


@q("q_text_textrank", _pagerank_oracle(3, edges_head=_TEXTRANK_EDGES))
def q_text_textrank(spark, sf_dir):
    """TextRank keyword scoring (Mihalcea & Tarau 2004): an undirected
    word co-occurrence graph from ADJACENT token pairs (deduplicated to
    a simple graph), ranked by the same fixed-iteration PageRank as
    q_graph_pagerank — high-rank words sit at the center of the
    corpus's collocation structure, the unsupervised keyword-extraction
    stage of a text pipeline. The pair build is MAP-SIDE: adjacency is
    a property of each document's own token array, so the bigrams come
    from zip_with over the array and its shift (slice 1.. with slice
    2..) — no posexplode + lead window, whose partitionBy(doc_id)
    shuffled the entire tokenized corpus just to look one element
    ahead inside a row. The only corpus-sized exchange left is the
    distinct's partial-aggregated shuffle; each rank round then joins
    on the word key, so the whole thing scales with |vocab edges|,
    not |corpus|^2."""
    docs = t(spark, sf_dir, "documents")
    toks = TX.tokens_ws(F.col("text"))
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, F.lit(1), m),
        F.slice(toks, F.lit(2), m),
        lambda x, y: F.struct(F.least(x, y).alias("a"), F.greatest(x, y).alias("b")),
    )
    pairs = (
        docs.select(F.explode(bigrams).alias("p"))
        .where(F.col("p.a") != F.col("p.b"))
        .select("p.a", "p.b")
        .distinct()
    )
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import pagerank

    return pagerank(edges, iters=3)


@q(
    "q_ts_croston",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS date, {dsum} AS d
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    g AS (
      SELECT user_id, date, d,
             CAST(date_diff('day',
                            lag(date) OVER (PARTITION BY user_id ORDER BY date),
                            date) AS DOUBLE) AS gap
      FROM daily
    ),
    w AS (
      SELECT user_id, date,
             list(d) OVER (PARTITION BY user_id ORDER BY date
                           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS ds,
             list(gap) OVER (PARTITION BY user_id ORDER BY date
                             ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS gs
      FROM g WHERE gap IS NOT NULL
    ),
    sm AS (
      SELECT user_id, date,
             CAST(list_sum(list_transform(generate_series(1, len(ds)),
               i -> CAST(CAST(0.3 AS DOUBLE) * power(0.7, len(ds) - i)
                         AS DECIMAL(16,14))
                    * CAST(ds[i] AS DECIMAL(12,6))))
                  AS DECIMAL(32,20)) AS sz,
             CAST(list_sum(list_transform(generate_series(1, len(gs)),
               i -> CAST(CAST(0.3 AS DOUBLE) * power(0.7, len(gs) - i)
                         AS DECIMAL(16,14))
                    * CAST(gs[i] AS DECIMAL(12,6))))
                  AS DECIMAL(32,20)) AS sp
      FROM w
    )
    SELECT user_id, date,
           CAST(round(sz, 6) AS DOUBLE) AS demand_ewma,
           CAST(round(sp, 6) AS DOUBLE) AS interval_ewma,
           round(CAST(sz AS DOUBLE) / CAST(sp AS DOUBLE), 6) AS croston_rate
    FROM sm
    """.format(dsum=DSUM("value")),
)
def q_ts_croston(spark, sf_dir):
    """Croston's method for intermittent demand: purchases are sparse
    per user-day, so forecasting the daily mean undershoots badly
    between spikes — Croston instead smooths the non-zero demand SIZES
    and the inter-arrival GAPS separately (alpha=0.3 over an 8-spike
    trailing frame, same closed-form zero-init EWMA as q_ts_holt) and
    forecasts rate = size/interval. Only days WITH demand materialize
    (the zero days live implicitly in the date-diff gaps), which is
    exactly what makes this scale: state is per-spike, not per-day."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("date")
    ).agg(sum_exact(F.col("value")).alias("d"))
    wlag = Window.partitionBy("user_id").orderBy("date")
    g = daily.withColumn(
        "gap", F.datediff("date", F.lag("date").over(wlag)).cast("double")
    ).where(F.col("gap").isNotNull())
    wfr = (
        Window.partitionBy("user_id")
        .orderBy("date")
        .rowsBetween(-7, Window.currentRow)
    )
    fr = g.select(
        "user_id",
        "date",
        F.collect_list("d").over(wfr).alias("ds"),
        F.collect_list("gap").over(wfr).alias("gs"),
    )

    def ewma(col):
        # decimal-exact terms: the true weights 0.3*0.7^k are finite
        # decimals (<= 8 digits), so the DECIMAL(16,14) cast absorbs
        # the engine-dependent pow ulp (see q_ts_holt)
        n = F.size(col)
        terms = F.transform(
            col,
            lambda x, i: (F.lit(0.3) * F.pow(F.lit(0.7), (n - 1 - i))).cast(
                "decimal(16,14)"
            )
            * x.cast("decimal(12,6)"),
        )
        return F.aggregate(
            terms,
            F.lit(0).cast("decimal(32,20)"),
            lambda a, b: (a + b).cast("decimal(32,20)"),
        )

    sm = fr.select(
        "user_id", "date", ewma("ds").alias("sz"), ewma("gs").alias("sp")
    )
    return sm.select(
        "user_id",
        "date",
        F.round("sz", 6).cast("double").alias("demand_ewma"),
        F.round("sp", 6).cast("double").alias("interval_ewma"),
        F.round(
            F.col("sz").cast("double") / F.col("sp").cast("double"), 6
        ).alias("croston_rate"),
    )


@q(
    "q_text_rake",
    """
    WITH tok0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    tokp AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS pos FROM tok0
    ),
    tk1 AS (
      SELECT doc_id, pos, toks[pos] AS w,
             CASE WHEN toks[pos] IN ('the', 'a') THEN 1 ELSE 0 END AS st
      FROM tokp
    ),
    tk2 AS (
      SELECT doc_id, pos, w, st,
             SUM(st) OVER (PARTITION BY doc_id ORDER BY pos) AS pid
      FROM tk1
    ),
    tk AS (SELECT doc_id, pos, w, pid FROM tk2 WHERE st = 0),
    ph AS (
      SELECT doc_id, pid, string_agg(w, ' ' ORDER BY pos) AS phrase,
             count(*) AS plen
      FROM tk GROUP BY 1, 2
    ),
    wd AS (
      SELECT w, count(*) AS freq, SUM(plen) AS deg
      FROM tk JOIN ph USING (doc_id, pid) GROUP BY w
    ),
    ws AS (SELECT w, CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) AS wscore FROM wd),
    ps AS (
      SELECT doc_id, pid, phrase, min(plen) AS plen,
             SUM(CAST(round(wscore, 12) AS DECIMAL(28,12))) AS s
      FROM tk JOIN ph USING (doc_id, pid) JOIN ws USING (w)
      GROUP BY 1, 2, 3
    )
    SELECT phrase, CAST(min(plen) AS BIGINT) AS len_tokens,
           count(*) AS n_occurrences,
           round(CAST(min(s) AS DOUBLE), 6) AS rake_score
    FROM ps GROUP BY phrase
    """,
)
def q_text_rake(spark, sf_dir):
    """RAKE keyphrase extraction (Rose et al. 2010): the token stream
    splits into candidate phrases at stopword boundaries (gap-and-
    island via a running stopword count — no self-join), word scores
    are degree/frequency where degree credits each occurrence with its
    phrase length, and a phrase scores the sum of its member word
    scores. The statistical keyphrase extractor that complements
    q_text_textrank's graph ranking; everything is explode + window +
    two equi-joins, linear in corpus tokens."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(TX.tokens_ws(F.col("text"))).alias("pos", "w")
    )
    stop = F.col("w").isin("the", "a")
    wpid = Window.partitionBy("doc_id").orderBy("pos")
    tk = (
        tok.withColumn("pid", F.sum(stop.cast("int")).over(wpid))
        .where(~stop)
        .select("doc_id", "pos", "w", "pid")
    )
    ph = tk.groupBy("doc_id", "pid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    occ = tk.join(ph, ["doc_id", "pid"])
    wd = occ.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    ws = wd.select(
        "w",
        (F.col("deg").cast("double") / F.col("freq").cast("double")).alias(
            "wscore"
        ),
    )
    ps = (
        occ.join(ws, "w")
        .groupBy("doc_id", "pid", "phrase")
        .agg(
            F.min("plen").alias("plen"),
            F.sum(F.round("wscore", 12).cast("decimal(28,12)")).alias("s"),
        )
    )
    return ps.groupBy("phrase").agg(
        F.min("plen").alias("len_tokens"),
        F.count(F.lit(1)).alias("n_occurrences"),
        F.round(F.min("s").cast("double"), 6).alias("rake_score"),
    )


@q(
    "q_ts_hampel",
    """
    WITH fr AS (
      SELECT event_id, user_id, value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS vals
      FROM events
    ),
    st AS (
      SELECT event_id, user_id, value, list_sort(vals) AS s, len(vals) AS n
      FROM fr
    ),
    md AS (
      SELECT event_id, user_id, value, s, n,
             CASE WHEN n % 2 = 1 THEN s[(n + 1) // 2]
                  ELSE (s[n // 2] + s[n // 2 + 1]) / 2 END AS med
      FROM st
    ),
    dv AS (
      SELECT event_id, user_id, value, med, n,
             list_sort(list_transform(s, x -> abs(x - med))) AS ds
      FROM md
    )
    SELECT event_id, user_id, round(med, 6) AS med7,
           round(CASE WHEN n % 2 = 1 THEN ds[(n + 1) // 2]
                      ELSE (ds[n // 2] + ds[n // 2 + 1]) / 2 END, 6) AS mad7,
           abs(value - med) > 3 * 1.4826 *
             (CASE WHEN n % 2 = 1 THEN ds[(n + 1) // 2]
                   ELSE (ds[n // 2] + ds[n // 2 + 1]) / 2 END) AS is_outlier
    FROM dv
    """,
)
def q_ts_hampel(spark, sf_dir):
    """Hampel outlier filter: a reading is flagged when it deviates
    from its trailing 7-row median by more than 3 scaled MADs (1.4826
    recovers sigma under Gaussian noise) — the robust despiking filter
    that rolling z-scores (q_window_zscore) get wrong when the spike
    itself inflates the stddev. One collect_list window per entity;
    median AND MAD both come from in-row sorted-array math (no second
    window pass), so the cost stays one exchange + O(w log w) per row.
    MAD=0 frames (constant window) flag only strict deviations."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    fr = ev.select(
        "event_id", "user_id", "value", F.collect_list("value").over(w).alias("vals")
    )
    st = fr.select(
        "event_id",
        "user_id",
        "value",
        F.array_sort("vals").alias("s"),
        F.size("vals").alias("n"),
    )

    def list_median(arr):
        n = F.col("n")
        odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
        even = (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2 + 1).cast("int"))
        ) / 2
        return F.when(n % 2 == 1, odd).otherwise(even)

    md = st.select(
        "event_id", "user_id", "value", "s", "n", list_median(F.col("s")).alias("med")
    )
    dv = md.select(
        "event_id",
        "user_id",
        "value",
        "med",
        "n",
        F.array_sort(
            F.transform("s", lambda x: F.abs(x - F.col("med")))
        ).alias("ds"),
    )
    mad = list_median(F.col("ds"))
    return dv.select(
        "event_id",
        "user_id",
        F.round("med", 6).alias("med7"),
        F.round(mad, 6).alias("mad7"),
        (F.abs(F.col("value") - F.col("med")) > F.lit(3) * F.lit(1.4826) * mad).alias(
            "is_outlier"
        ),
    )


@q(
    "q_graph_jaccard",
    """
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS id_a, b.l_partkey AS id_b
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    adj AS (
      SELECT id_a AS node, id_b AS nbr FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    deg AS (SELECT node, count(*) AS d FROM adj GROUP BY node),
    common AS (
      SELECT x.node AS a, y.node AS b, count(*) AS c
      FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT a, b, c,
             CAST(c AS DOUBLE) / CAST(da.d + db.d - c AS DOUBLE) AS j
      FROM common JOIN deg da ON da.node = a JOIN deg db ON db.node = b
      WHERE c >= 2
    ),
    sym AS (
      SELECT a AS node, b AS nbr, c, j FROM scored
      UNION ALL
      SELECT b, a, c, j FROM scored
    ),
    rk AS (
      SELECT node, nbr, c, j,
             row_number() OVER (PARTITION BY node ORDER BY j DESC, nbr) AS rk
      FROM sym
    )
    SELECT node, nbr, c AS n_common, round(j, 6) AS jaccard,
           CAST(rk AS INT) AS rk
    FROM rk WHERE rk <= 3
    """,
)
def q_graph_jaccard(spark, sf_dir):
    """Neighbor-set Jaccard kNN graph (link prediction / entity
    similarity on the co-purchase graph): each part's top-3 most
    similar parts by neighborhood overlap (>= 2 common neighbors) —
    likely substitutes or bundle-mates even when never bought
    together. Common neighbors come from ONE wedge join on the
    shared-neighbor key (the q_graph_triangles join shape); a per-node
    row_number keeps the OUTPUT scale-free (|V| x 3 rows at any data
    size, where a fixed similarity threshold emits everything or
    nothing as density shifts). The graph keeps only pairs CO-BOUGHT
    IN >= 2 ORDERS — counted over the DISTINCT per-order basket (r7:
    the raw-row count could reach 2 from a single order with a
    duplicated part line; both engine and oracle now count orders) —
    the standard noise-floor prune for co-occurrence
    graphs, and the thing that bounds wedge fan-out: one-off random
    co-purchases grow quadratically with data (measured 298M wedge
    rows at sf0.1) while repeated pairs track true affinity (12k
    wedges, pair count ~flat across 100x data). Scale note: even so,
    exact overlap through a residual hub is the cost ceiling — the
    100 TB escape hatch is MinHash over adjacency sets
    (q_dedup_minhash_lsh's machinery, swapping shingles for neighbor
    lists)."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import copurchase_pairs

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (
        copurchase_pairs(li, "l_orderkey", "l_partkey")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__m"))
        .where(F.col("__m") >= 2)
        .select("id_a", "id_b")
    )
    adj = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("node"), F.col("id_b").alias("nbr")),
                F.struct(F.col("id_b").alias("node"), F.col("id_a").alias("nbr")),
            )
        ).alias("e")
    ).select("e.node", "e.nbr").persist()
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    x, y = adj.alias("x"), adj.alias("y")
    common = (
        x.join(
            y,
            (F.col("x.nbr") == F.col("y.nbr"))
            & (F.col("x.node") < F.col("y.node")),
        )
        .groupBy(F.col("x.node").alias("a"), F.col("y.node").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    jac = F.col("c").cast("double") / (
        F.col("da") + F.col("db") - F.col("c")
    ).cast("double")
    scored = (
        common.join(da, "a")
        .join(db, "b")
        .where(F.col("c") >= 2)
        .select("a", "b", "c", jac.alias("j"))
    )
    sym = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("node"),
                    F.col("b").alias("nbr"),
                    F.col("c").alias("c"),
                    F.col("j").alias("j"),
                ),
                F.struct(
                    F.col("b").alias("node"),
                    F.col("a").alias("nbr"),
                    F.col("c").alias("c"),
                    F.col("j").alias("j"),
                ),
            )
        ).alias("e")
    ).select("e.node", "e.nbr", "e.c", "e.j")
    wr = Window.partitionBy("node").orderBy(F.desc("j"), F.asc("nbr"))
    return (
        sym.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 3)
        .select(
            "node",
            "nbr",
            F.col("c").alias("n_common"),
            F.round("j", 6).alias("jaccard"),
            "rk",
        )
    )


@q(
    "q_dq_ldiversity",
    """
    WITH g AS (
      SELECT event_type, CAST(hour(ts) AS INT) AS hr,
             CAST(floor(value / 10.0) AS INT) AS vband,
             count(DISTINCT user_id) AS l, count(*) AS n
      FROM events GROUP BY 1, 2, 3
    )
    SELECT count(*) AS n_groups,
           min(l) AS l_diversity,
           count(CASE WHEN l < 3 THEN 1 END) AS n_risky_groups,
           CAST(sum(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT) AS n_risky_rows
    FROM g
    """,
)
def q_dq_ldiversity(spark, sf_dir):
    """l-diversity audit — k-anonymity's stronger sibling
    (q_dq_kanonymity shares the quasi-identifier classes): a class can
    be large yet still leak if every row shares the same SENSITIVE
    value, so the released dataset's l is the minimum count of
    DISTINCT sensitive values (user_id) per QI class, plus how many
    classes (and rows) fall under l=3. Same two shrinking partial-agg
    passes; the distinct count rides the QI shuffle."""
    ev = t(spark, sf_dir, "events")
    g = ev.groupBy(
        "event_type",
        F.hour("ts").cast("int").alias("hr"),
        F.floor(F.col("value") / 10.0).cast("int").alias("vband"),
    ).agg(
        F.countDistinct("user_id").alias("l"), F.count(F.lit(1)).alias("n")
    )
    risky = F.when(F.col("l") < 3, F.lit(1))
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("l").alias("l_diversity"),
        F.count(risky).alias("n_risky_groups"),
        F.coalesce(
            F.sum(F.when(F.col("l") < 3, F.col("n")).otherwise(F.lit(0))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_risky_rows"),
    )


@q(
    "q_ts_downsample",
    """
    WITH b AS (
      SELECT user_id, event_id, value,
             strftime(to_timestamp((epoch_us(ts) // 21600000000) * 21600),
                      '%Y-%m-%d %H:%M:%S') AS bucket_start
      FROM events
    ),
    st AS (
      SELECT user_id, bucket_start, event_id, value,
             CAST(SUM(CAST(value AS DECIMAL(25,6)))
                    OVER (PARTITION BY user_id, bucket_start) AS DOUBLE)
               / count(*) OVER (PARTITION BY user_id, bucket_start) AS m,
             count(*) OVER (PARTITION BY user_id, bucket_start) AS n
      FROM b
    ),
    rk AS (
      SELECT user_id, bucket_start, event_id, value, n,
             row_number() OVER (PARTITION BY user_id, bucket_start
                                ORDER BY abs(value - m) DESC, event_id) AS rn
      FROM st
    )
    SELECT user_id, bucket_start, event_id AS rep_event_id,
           round(value, 6) AS rep_value, n AS n_in_bucket
    FROM rk WHERE rn = 1
    """,
)
def q_ts_downsample(spark, sf_dir):
    """Peak-preserving downsampling for plotting/telemetry export: one
    representative reading per (user, 6h bucket) — the row FARTHEST
    from the bucket mean (tie -> lowest id), so spikes survive where
    plain bucket averages would flatten them (the property LTTB-class
    downsamplers exist for; this is the order-free variant expressible
    as two window passes over one exchange). Output is |entities| x
    |buckets| rows regardless of ingest rate — the scale-free shape a
    dashboard needs. Bucket mean is decimal-exact, so the deviation
    ranking is engine- and partitioning-identical."""
    ev = t(spark, sf_dir, "events")
    b = ev.select(
        "user_id",
        "event_id",
        "value",
        F.date_format(F.window("ts", "6 hours")["start"], "yyyy-MM-dd HH:mm:ss").alias(
            "bucket_start"
        ),
    )
    wB = Window.partitionBy("user_id", "bucket_start")
    st = b.select(
        "user_id",
        "bucket_start",
        "event_id",
        "value",
        (
            F.sum(F.col("value").cast("decimal(25,6)")).over(wB).cast("double")
            / F.count(F.lit(1)).over(wB)
        ).alias("m"),
        F.count(F.lit(1)).over(wB).alias("n"),
    )
    wr = Window.partitionBy("user_id", "bucket_start").orderBy(
        F.desc(F.abs(F.col("value") - F.col("m"))), F.asc("event_id")
    )
    return (
        st.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "bucket_start",
            F.col("event_id").alias("rep_event_id"),
            F.round("value", 6).alias("rep_value"),
            F.col("n").alias("n_in_bucket"),
        )
    )


def _ppr_oracle(iters: int = 3, seed_mod: int = 10) -> str:
    """Unrolled personalized PageRank over the co-purchase graph:
    restart mass only on the id % seed_mod seed parts."""
    head = """
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS id_a, b.l_partkey AS id_b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM e),
    scnt AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM nodes WHERE id % {m} = 0),
    deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
    r0 AS (
      SELECT id, CASE WHEN id % {m} = 0
                      THEN round(1.0 / (SELECT ns FROM scnt), 12)
                      ELSE 0.0 END AS rank
      FROM nodes
    )
    """.format(m=seed_mod)
    for it in range(1, iters + 1):
        head += f""",
    c{it} AS (
      SELECT e.dst AS id,
             CAST(round(r.rank / d.deg, 12) AS DECIMAL(28,12)) AS c
      FROM e JOIN r{it - 1} r ON e.src = r.id JOIN deg d ON e.src = d.id
    ),
    r{it} AS (
      SELECT n.id,
             round(CASE WHEN n.id % {seed_mod} = 0
                        THEN 0.15 / (SELECT ns FROM scnt) ELSE 0.0 END
                   + 0.85 * coalesce(CAST(s.s AS DOUBLE), 0.0), 12) AS rank
      FROM nodes n LEFT JOIN (SELECT id, SUM(c) AS s FROM c{it} GROUP BY id) s
        ON n.id = s.id
    )
    """
    return head + f"SELECT id, round(rank, 6) AS rank FROM r{iters}"


@q("q_graph_ppr", _ppr_oracle(3))
def q_graph_ppr(spark, sf_dir):
    """Personalized PageRank over the co-purchase part graph: restart
    mass pinned to the ``id % 10 == 0`` seed parts, so rank measures
    relatedness to that portfolio — the "customers who bought these
    also orbit around..." relatedness walk (Haveliwala 2002), vs
    q_graph_pagerank's global centrality. Same fixed-iteration
    join+shuffle rounds and decimal-exact contribution sums; only the
    restart vector changes."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import copurchase_pairs

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = copurchase_pairs(li, "l_orderkey", "l_partkey").distinct()
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import (
        personalized_pagerank,
    )

    return personalized_pagerank(edges, seed_mod=10, iters=3)


def _seasonal_strength_oracle() -> str:
    return """
    WITH stl AS ({stl}),
    x AS (
      SELECT event_type, residual AS r,
             seasonal + residual AS sr, trend + residual AS tr
      FROM stl
    ),
    v AS (
      SELECT event_type, count(*) AS n,
             CAST(SUM(CAST(r AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS mr,
             CAST(SUM(CAST(round(r * r, 12) AS DECIMAL(30,12))) AS DOUBLE)
               / count(*) AS mr2,
             CAST(SUM(CAST(sr AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS msr,
             CAST(SUM(CAST(round(sr * sr, 12) AS DECIMAL(30,12))) AS DOUBLE)
               / count(*) AS msr2,
             CAST(SUM(CAST(tr AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS mtr,
             CAST(SUM(CAST(round(tr * tr, 12) AS DECIMAL(30,12))) AS DOUBLE)
               / count(*) AS mtr2
      FROM x GROUP BY event_type
    )
    SELECT event_type, n AS n_buckets,
           round(greatest(CAST(0.0 AS DOUBLE),
             CASE WHEN msr2 - msr * msr = 0 THEN CAST(0.0 AS DOUBLE)
                  ELSE 1.0 - (mr2 - mr * mr) / (msr2 - msr * msr) END), 6)
             AS f_seasonal,
           round(greatest(CAST(0.0 AS DOUBLE),
             CASE WHEN mtr2 - mtr * mtr = 0 THEN CAST(0.0 AS DOUBLE)
                  ELSE 1.0 - (mr2 - mr * mr) / (mtr2 - mtr * mtr) END), 6)
             AS f_trend
    FROM v
    """.format(stl=_ORACLE_REG["q_ts_stl_decompose"])


@q("q_ts_seasonal_strength", _seasonal_strength_oracle())
def q_ts_seasonal_strength(spark, sf_dir):
    """Seasonal and trend STRENGTH (Hyndman's F_s = max(0, 1 -
    var(remainder)/var(seasonal+remainder)) and the F_t analogue on
    trend+remainder) per event type, computed directly on
    q_ts_stl_decompose's output — the forecastability diagnostic that
    says whether the STL seasonal/trend components actually explain
    the series or the energy profile is noise-dominated. Variances come
    from decimal-exact sums of the rounded STL components (the rounded
    values ARE finite decimals, so E[x^2]-E[x]^2 is engine-identical);
    one extra shrinking aggregation over the decomposition, no new
    scans."""
    from smart_energy_consumption_analytics_using_big_data_spark.plans.analytics import (
        q_ts_stl_decompose,
    )

    stl = q_ts_stl_decompose(spark, sf_dir)
    x = stl.select(
        "event_type",
        F.col("residual").alias("r"),
        (F.col("seasonal") + F.col("residual")).alias("sr"),
        (F.col("trend") + F.col("residual")).alias("tr"),
    )

    def moments(c):
        m = F.sum(F.col(c).cast("decimal(25,6)")).cast("double") / F.count(
            F.lit(1)
        )
        m2 = F.sum(
            F.round(F.col(c) * F.col(c), 12).cast("decimal(30,12)")
        ).cast("double") / F.count(F.lit(1))
        return m, m2

    mr, mr2 = moments("r")
    msr, msr2 = moments("sr")
    mtr, mtr2 = moments("tr")
    v = x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        mr.alias("mr"),
        mr2.alias("mr2"),
        msr.alias("msr"),
        msr2.alias("msr2"),
        mtr.alias("mtr"),
        mtr2.alias("mtr2"),
    )

    def strength(m, m2):
        denom = F.col(m2) - F.col(m) * F.col(m)
        ratio = (F.col("mr2") - F.col("mr") * F.col("mr")) / denom
        return F.round(
            F.greatest(
                F.lit(0.0),
                F.when(denom == 0, F.lit(0.0)).otherwise(F.lit(1.0) - ratio),
            ),
            6,
        )

    return v.select(
        "event_type",
        F.col("n").alias("n_buckets"),
        strength("msr", "msr2").alias("f_seasonal"),
        strength("mtr", "mtr2").alias("f_trend"),
    )


@q(
    "q_dedup_chunks",
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= 1
    ),
    c AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, CAST((len(toks) + 19) // 20 AS INT) - 1))
               AS chunk_id
      FROM tok
    ),
    x AS (
      SELECT doc_id, chunk_id,
             array_to_string(list_slice(toks, chunk_id * 20 + 1,
                                        chunk_id * 20 + 20), ' ') AS ctext
      FROM c
    ),
    r AS (
      SELECT doc_id, chunk_id, ctext,
             row_number() OVER (PARTITION BY md5(ctext)
                                ORDER BY doc_id, chunk_id) AS rn
      FROM x
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
           md5(coalesce(string_agg(CASE WHEN rn = 1 THEN ctext END, ' '
                                   ORDER BY chunk_id), '')) AS cleaned_hash
    FROM r GROUP BY doc_id
    """,
)
def q_dedup_chunks(spark, sf_dir):
    """Sub-document dedup (Lee et al.-style at CHUNK granularity):
    every 20-token non-overlapping chunk keeps only its globally FIRST
    occurrence (lowest doc_id, then position — deterministic), and
    each document is reconstructed from its surviving chunks in order
    — so a document that copies half of another loses just that half,
    where doc-level dedup would either keep the redundancy or drop the
    unique half too. One explode to chunk rows, one hash-keyed window
    for first-occurrence, one ordered re-agg to rebuild; the rebuilt
    text travels as md5 so the result stays narrow while still
    value-checking exact reconstruction bytes."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", TX.tokens_ws(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 1
    )
    n_chunks = F.floor((F.size("toks") + 19) / 20).cast("int")
    c = tok.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    x = c.select(
        "doc_id",
        "chunk_id",
        F.concat_ws(
            " ", F.slice("toks", F.col("chunk_id") * 20 + 1, F.lit(20))
        ).alias("ctext"),
    )
    wf = Window.partitionBy(F.md5("ctext")).orderBy("doc_id", "chunk_id")
    r = x.withColumn("rn", F.row_number().over(wf))
    kept_text = F.when(F.col("rn") == 1, F.col("ctext"))
    recon = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("rn") == 1,
                        F.struct(F.col("chunk_id"), F.col("ctext")),
                    )
                )
            ),
            lambda s: s["ctext"],
        ),
    )
    return r.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count(kept_text).alias("n_kept"),
        F.md5(recon).alias("cleaned_hash"),
    )


def _trunc_topk_sql(d: int) -> str:
    a, b = f"list_slice(e.embedding, 1, {d})", f"list_slice(q.qvec, 1, {d})"
    dot = _DOT.format(a=a, b=b)
    na = _DOT.format(a=a, b=a)
    nb = _DOT.format(a=b, b=b)
    return f"""
      SELECT e.vec_id FROM embeddings e
      CROSS JOIN (SELECT embedding AS qvec FROM embeddings
                  ORDER BY vec_id LIMIT 1) q
      ORDER BY round({dot} / (sqrt({na}) * sqrt({nb})), 6) DESC, e.vec_id
      LIMIT 10
    """


@q(
    "q_emb_trunc_recall",
    f"""
    WITH fl AS (SELECT vec_id FROM ({_ORACLE_REG['q_sim_cosine_topk']})),
    t16 AS ({_trunc_topk_sql(16)}),
    t32 AS ({_trunc_topk_sql(32)})
    SELECT 16 AS dim, round(count(*) / 10.0, 6) AS recall_at_10
    FROM t16 JOIN fl USING (vec_id)
    UNION ALL
    SELECT 32 AS dim, round(count(*) / 10.0, 6) AS recall_at_10
    FROM t32 JOIN fl USING (vec_id)
    """,
)
def q_emb_trunc_recall(spark, sf_dir):
    """Matryoshka-style dimension-truncation evaluation: recall@10 of
    exact cosine search using only the first 16 / 32 of 64 embedding
    dims against the full-dimension top-10 — the measurement that
    decides how far a nested-representation index can truncate before
    retrieval quality pays (Kusupati et al. 2022's evaluation, on the
    exact-search baseline so the oracle stays deterministic). Reuses
    the brute-force scan (1-row query broadcast) three times on
    progressively sliced vectors; output is two scalar rows."""
    emb = t(spark, sf_dir, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    full = S.cosine_topk(emb, query, k=10).select("vec_id")

    def trunc_ids(d):
        et = emb.withColumn("embedding", F.slice("embedding", 1, d))
        qt = query.withColumn("embedding", F.slice("embedding", 1, d))
        return S.cosine_topk(et, qt, k=10).select("vec_id")

    parts = []
    for d in (16, 32):
        hit = trunc_ids(d).join(full, "vec_id")
        parts.append(
            hit.agg(
                F.lit(d).alias("dim"),
                F.round(F.count(F.lit(1)) / 10.0, 6).alias("recall_at_10"),
            )
        )
    return parts[0].unionByName(parts[1])


@q(
    "q_eval_ece",
    """
    WITH binned AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
             ntile(50) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
      FROM orders
    ),
    b AS (SELECT bin, count(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
          FROM binned GROUP BY bin),
    e AS (
      SELECT bin, n, pos,
             abs(CAST(pos AS DOUBLE) / n
                 - (CAST(bin AS DOUBLE) - 0.5) / 50.0) AS gap
      FROM b
    )
    SELECT CAST(count(*) AS INT) AS n_bins,
           CAST(SUM(n) AS BIGINT) AS n,
           round(CAST(SUM(CAST(round(n * gap, 12) AS DECIMAL(28,12)))
                      AS DOUBLE) / SUM(n), 6) AS ece,
           round(max(gap), 6) AS mce
    FROM e
    """,
)
def q_eval_ece(spark, sf_dir):
    """Expected / maximum calibration error over the same 50
    deterministic score bins as q_ml_isotonic: per bin, the gap between
    observed positive rate and the bin's nominal confidence (its rank
    midpoint), weighted by bin mass for ECE and maxed for MCE — the
    reliability-diagram summary numbers that say whether a score can
    be read as a probability BEFORE calibration (q_ml_isotonic is the
    fix; this is the diagnosis). Two shrinking aggregations after the
    shared binning, which is the two-pass range-partitioned ntile
    (`operators.windows.with_global_ntile`) rather than a single-task
    global window."""
    from smart_energy_consumption_analytics_using_big_data_spark.operators.windows import with_global_ntile

    o = t(spark, sf_dir, "orders")
    binned = with_global_ntile(
        o.select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("y"),
            "o_totalprice",
            "o_orderkey",
        ),
        order=[F.asc("o_totalprice"), F.asc("o_orderkey")],
        k=50,
        bucket_by="o_totalprice",
        out="bin",
    ).select("y", "bin")
    b = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").cast("bigint").alias("pos")
    )
    gap = F.abs(
        F.col("pos").cast("double") / F.col("n")
        - (F.col("bin").cast("double") - 0.5) / 50.0
    )
    e = b.select("n", gap.alias("gap"))
    return e.agg(
        F.count(F.lit(1)).cast("int").alias("n_bins"),
        F.sum("n").alias("n"),
        F.round(
            F.sum(F.round(F.col("n") * F.col("gap"), 12).cast("decimal(28,12)"))
            .cast("double")
            / F.sum("n"),
            6,
        ).alias("ece"),
        F.round(F.max("gap"), 6).alias("mce"),
    )


@q(
    "q_graph_degree_dist",
    """
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS id_a, b.l_partkey AS id_b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    adj AS (
      SELECT id_a AS node, id_b AS nbr FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    deg AS (SELECT node, count(*) AS d FROM adj GROUP BY node),
    h AS (SELECT d AS degree, count(*) AS n_nodes FROM deg GROUP BY d),
    tot AS (SELECT CAST(SUM(n_nodes) AS DOUBLE) AS nv FROM h)
    SELECT degree, n_nodes,
           round(CAST(SUM(n_nodes) OVER (ORDER BY degree DESC) AS DOUBLE)
                 / (SELECT nv FROM tot), 6) AS frac_at_least
    FROM h
    """,
)
def q_graph_degree_dist(spark, sf_dir):
    """Degree distribution of the (unpruned) co-purchase graph: node
    count per degree plus the complementary-CDF column (fraction of
    nodes with degree >= d) — the diagnostic that decides whether the
    graph operators upstream need hub mitigation (a heavy tail here is
    exactly why q_graph_jaccard prunes to >= 2-order pairs and
    q_graph_triangles orients by degree). Two shrinking aggregations
    over the edge list; the CCDF is one window over the degree-sized
    histogram."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import copurchase_pairs

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = copurchase_pairs(li, "l_orderkey", "l_partkey").distinct()
    adj = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("node"), F.col("id_b").alias("nbr")),
                F.struct(F.col("id_b").alias("node"), F.col("id_a").alias("nbr")),
            )
        ).alias("e")
    ).select("e.node", "e.nbr")
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    h = deg.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    wc = Window.orderBy(F.desc("degree")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    nv = Window.partitionBy()
    return h.select(
        "degree",
        "n_nodes",
        F.round(
            F.sum("n_nodes").over(wc).cast("double") / F.sum("n_nodes").over(nv),
            6,
        ).alias("frac_at_least"),
    )


@q(
    "q_dedup_threshold_curve",
    f"""
    WITH {_SHINGLES_CTE},
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    j AS (
      SELECT doc_a, doc_b, round(common / (sa.n + sb.n - common), 6) AS jac
      FROM pairs JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
    ),
    th AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
                  AS threshold),
    m AS (
      SELECT th.threshold, j.doc_a, j.doc_b
      FROM th JOIN j ON j.jac >= th.threshold
    ),
    u AS (
      SELECT threshold, doc_a AS d FROM m
      UNION
      SELECT threshold, doc_b FROM m
    )
    SELECT th.threshold,
           CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(d.n_docs, 0) AS BIGINT) AS n_docs
    FROM th
    LEFT JOIN (SELECT threshold, count(*) AS n_pairs FROM m GROUP BY 1) p
      USING (threshold)
    LEFT JOIN (SELECT threshold, count(*) AS n_docs FROM u GROUP BY 1) d
      USING (threshold)
    """,
)
def q_dedup_threshold_curve(spark, sf_dir):
    """Dedup threshold sensitivity: how many near-dup pairs (and how
    many documents they touch) survive at Jaccard cuts 0.5-0.9 — the
    tuning curve every dedup rollout plots before committing to a
    threshold, computed from ONE pass of the exact shingle-Jaccard
    pair table (the 5-row literal threshold table broadcasts against
    it). A steep drop between rungs means the corpus separates cleanly;
    a flat curve means the threshold is a real quality/recall trade."""
    sh = D.shingle_table(t(spark, sf_dir, "documents"), n=3, max_df=100)
    j = D.jaccard_pairs(sh, min_jaccard=0.0).select(
        "doc_a", "doc_b", F.col("jaccard").alias("jac")
    )
    th = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(x) for x in (0.5, 0.6, 0.7, 0.8, 0.9)])
        ).alias("threshold")
    )
    m = th.join(j, F.col("jac") >= F.col("threshold")).persist()
    p = m.groupBy("threshold").agg(F.count(F.lit(1)).alias("n_pairs"))
    u = (
        m.select("threshold", F.col("doc_a").alias("d"))
        .union(m.select("threshold", F.col("doc_b")))
        .distinct()
    )
    d = u.groupBy("threshold").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        th.join(p, "threshold", "left")
        .join(d, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("bigint").alias("n_docs"),
        )
    )


@q(
    "q_emb_drift",
    """
    WITH u AS (
      SELECT label, vec_id % 2 AS half, uu.pos AS pos, uu.val AS val
      FROM (
        SELECT label, vec_id,
               unnest(list_transform(generate_series(1, len(embedding)),
                      i -> {'pos': i, 'val': CAST(embedding[i] AS DOUBLE)})) AS uu
        FROM embeddings
      )
    ),
    m AS (
      SELECT label, half, pos,
             round(CAST(SUM(CAST(round(val, 12) AS DECIMAL(25,12))) AS DOUBLE)
                   / count(*), 6) AS mv
      FROM u GROUP BY 1, 2, 3
    ),
    p AS (
      SELECT a.label, a.pos, a.mv AS m0, b.mv AS m1
      FROM m a JOIN m b ON a.label = b.label AND a.pos = b.pos
      WHERE a.half = 0 AND b.half = 1
    ),
    d AS (
      SELECT label,
             CAST(SUM(CAST(round(m0 * m1, 12) AS DECIMAL(28,12))) AS DOUBLE)
               AS dot,
             CAST(SUM(CAST(round(m0 * m0, 12) AS DECIMAL(28,12))) AS DOUBLE)
               AS n0,
             CAST(SUM(CAST(round(m1 * m1, 12) AS DECIMAL(28,12))) AS DOUBLE)
               AS n1,
             CAST(SUM(CAST(round((m0 - m1) * (m0 - m1), 12) AS DECIMAL(28,12)))
                  AS DOUBLE) AS sq
      FROM p GROUP BY label
    )
    SELECT label, round(dot / (sqrt(n0) * sqrt(n1)), 6) AS centroid_cosine,
           round(sqrt(sq), 6) AS centroid_l2
    FROM d
    """,
)
def q_emb_drift(spark, sf_dir):
    """Embedding drift monitor: per label, the cosine and L2 distance
    between the centroid of one half of the corpus (vec_id parity
    stands in for before/after batches) and the other — the
    model-ops check that a re-embedding run or upstream data shift
    has not moved the representation space (cosine ~1, L2 ~0 means
    stable). Per-dimension means use decimal-exact sums; the 64-dim
    centroid comparison is dimension-sized, so the whole monitor is
    two shrinking aggregations over one corpus explode."""
    emb = t(spark, sf_dir, "embeddings")
    u = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos0", "val"),
    )
    m = u.groupBy("label", "half", (F.col("pos0") + 1).alias("pos")).agg(
        F.round(
            F.sum(
                F.round(F.col("val").cast("double"), 12).cast("decimal(25,12)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mv")
    )
    a = m.filter(F.col("half") == 0).select(
        "label", "pos", F.col("mv").alias("m0")
    )
    b = m.filter(F.col("half") == 1).select(
        "label", "pos", F.col("mv").alias("m1")
    )
    p = a.join(b, ["label", "pos"])

    def dsum12(expr):
        return F.sum(F.round(expr, 12).cast("decimal(28,12)")).cast("double")

    d = p.groupBy("label").agg(
        dsum12(F.col("m0") * F.col("m1")).alias("dot"),
        dsum12(F.col("m0") * F.col("m0")).alias("n0"),
        dsum12(F.col("m1") * F.col("m1")).alias("n1"),
        dsum12((F.col("m0") - F.col("m1")) * (F.col("m0") - F.col("m1"))).alias(
            "sq"
        ),
    )
    return d.select(
        "label",
        F.round(
            F.col("dot") / (F.sqrt("n0") * F.sqrt("n1")), 6
        ).alias("centroid_cosine"),
        F.round(F.sqrt("sq"), 6).alias("centroid_l2"),
    )


@q(
    "q_dq_volume_anomaly",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS date, CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1
    ),
    fr AS (
      SELECT date, n,
             list(n) OVER (ORDER BY date
                           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS vals
      FROM daily
    ),
    st AS (
      SELECT date, n, list_sort(vals) AS s, len(vals) AS w FROM fr WHERE len(vals) >= 3
    ),
    md AS (
      SELECT date, n, s, w,
             CASE WHEN w % 2 = 1 THEN s[(w + 1) // 2]
                  ELSE (s[w // 2] + s[w // 2 + 1]) / 2 END AS med
      FROM st
    ),
    dv AS (
      SELECT date, n, med, w,
             list_sort(list_transform(s, x -> abs(x - med))) AS ds
      FROM md
    )
    SELECT date, CAST(n AS BIGINT) AS n_rows, round(med, 6) AS med7,
           abs(n - med) > 3 * 1.4826 *
             (CASE WHEN w % 2 = 1 THEN ds[(w + 1) // 2]
                   ELSE (ds[w // 2] + ds[w // 2 + 1]) / 2 END) AS is_anomaly
    FROM dv
    """,
)
def q_dq_volume_anomaly(spark, sf_dir):
    """Ingestion-volume anomaly monitor: each day's row count against
    the median +- 3 scaled MADs of the TRAILING week (current day
    excluded, so the anomaly cannot mask itself) — the data-quality
    alarm that catches a dropped ingest shard or a duplicate replay
    before any downstream query does. Same in-row sorted-array
    median/MAD as q_ts_hampel, applied to the day-count series; the
    first 3 days have no baseline and are skipped."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("date")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    w = Window.orderBy("date").rowsBetween(-7, -1)
    fr = daily.select(
        "date", "n", F.collect_list("n").over(w).alias("vals")
    ).filter(F.size("vals") >= 3)
    st = fr.select(
        "date", "n", F.array_sort("vals").alias("s"), F.size("vals").alias("w")
    )

    def list_median(arr):
        n = F.col("w")
        odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
        even = (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2 + 1).cast("int"))
        ) / 2
        return F.when(n % 2 == 1, odd).otherwise(even)

    md = st.select("date", "n", "s", "w", list_median(F.col("s")).alias("med"))
    dv = md.select(
        "date",
        "n",
        "med",
        "w",
        F.array_sort(F.transform("s", lambda x: F.abs(x - F.col("med")))).alias(
            "ds"
        ),
    )
    mad = list_median(F.col("ds"))
    return dv.select(
        "date",
        F.col("n").cast("bigint").alias("n_rows"),
        F.round("med", 6).alias("med7"),
        (
            F.abs(F.col("n") - F.col("med")) > F.lit(3) * F.lit(1.4826) * mad
        ).alias("is_anomaly"),
    )


@q(
    "q_window_firstlast",
    """
    SELECT event_id, user_id,
           first_value(value) OVER w AS first_seen,
           last_value(value) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND UNBOUNDED FOLLOWING)
             AS last_overall,
           nth_value(value, 3) OVER w AS third_seen
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_window_firstlast(spark, sf_dir):
    """first_value / last_value / nth_value window family: the
    positional accessors that complete the §2 window surface beyond
    lag/lead/rank. The pitfall this query pins: last_value over the
    DEFAULT frame (unbounded preceding..current row) is just the
    current row — the full-partition frame must be explicit; nth_value
    over the expanding frame is NULL until the partition has seen 3
    rows. Unique (ts, event_id) ordering keeps every accessor
    deterministic."""
    ev = t(spark, sf_dir, "events")
    w_exp = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_full = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("value").over(w_exp).alias("first_seen"),
        F.last("value").over(w_full).alias("last_overall"),
        F.nth_value("value", 3).over(w_exp).alias("third_seen"),
    )


@q(
    "q_ts_gap_distribution",
    """
    WITH g AS (
      SELECT event_type,
             CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                  AS DOUBLE) / 60000000.0 AS gap_min
      FROM events
    ),
    gg AS (SELECT event_type, gap_min FROM g WHERE gap_min IS NOT NULL)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
           round(quantile_cont(gap_min, 0.5), 6) AS p50_min,
           round(quantile_cont(gap_min, 0.9), 6) AS p90_min,
           round(quantile_cont(gap_min, 0.99), 6) AS p99_min,
           round(CAST(count(CASE WHEN gap_min > 30 THEN 1 END) AS DOUBLE)
                 / count(*), 6) AS frac_over_30min
    FROM gg GROUP BY event_type
    """,
)
def q_ts_gap_distribution(spark, sf_dir):
    """Inter-event gap distribution per event type: exact p50/p90/p99
    of same-user gaps in minutes plus the fraction above 30 min — the
    measurement that JUSTIFIES a sessionization gap instead of
    folkloring it (q_sessionize / q_stream_session use 30 min; this
    shows where that sits in the actual gap CDF). Note the lag runs
    per USER (one exchange), the rollup per type; exact percentiles
    sort within type groups — the sketch path is approx_percentile on
    the same rows."""
    ev = t(spark, sf_dir, "events")
    from smart_energy_consumption_analytics_using_big_data_spark.functions.timefns import (
        epoch_us,
    )

    wlag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (
            (epoch_us(F.col("ts")) - F.lag(epoch_us(F.col("ts"))).over(wlag)).cast(
                "double"
            )
            / 60000000.0
        ).alias("gap_min"),
    ).where(F.col("gap_min").isNotNull())
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.expr("percentile(gap_min, 0.5)"), 6).alias("p50_min"),
        F.round(F.expr("percentile(gap_min, 0.9)"), 6).alias("p90_min"),
        F.round(F.expr("percentile(gap_min, 0.99)"), 6).alias("p99_min"),
        F.round(
            F.count(F.when(F.col("gap_min") > 30, 1)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("frac_over_30min"),
    )


@q(
    "q_agg_abc_pareto",
    """
    WITH rev AS (
      SELECT l_partkey, {dsum} AS revenue
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT CAST(SUM(CAST(revenue AS DECIMAL(25,6))) AS DOUBLE) AS t
            FROM rev),
    c AS (
      SELECT l_partkey, revenue,
             CAST(SUM(CAST(revenue AS DECIMAL(25,6)))
                    OVER (ORDER BY revenue DESC, l_partkey) AS DOUBLE)
               / (SELECT t FROM tot) AS cum_share
      FROM rev
    ),
    k AS (
      SELECT l_partkey, revenue, cum_share,
             CASE WHEN cum_share <= 0.8 THEN 'A'
                  WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class
      FROM c
    )
    SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
           {dsum2} AS class_revenue,
           round(min(cum_share), 6) AS min_cum_share,
           round(max(cum_share), 6) AS max_cum_share
    FROM k GROUP BY abc_class
    """.format(
        dsum=DSUM("l_extendedprice * (1 - l_discount)"),
        dsum2="round(CAST(SUM(CAST(revenue AS DECIMAL(25,6))) AS DOUBLE), 6)",
    ),
)
def q_agg_abc_pareto(spark, sf_dir):
    """ABC / Pareto classification: parts ranked by revenue, classified
    A (first 80% of cumulative revenue), B (to 95%), C (tail) — the
    80/20 inventory-analytics rollup. The classic skew question
    'how few keys carry most of the load' as a first-class query.

    The cumulative revenue runs over the PART-LEVEL rollup, which at
    100 TB is itself a large table (TPC-H scales parts with the data),
    so an unpartitioned ``Window.orderBy`` — single-task execution —
    would be the plan's scale ceiling (VERDICT r5 item 4). It uses the
    two-pass range-partitioned prefix sum instead
    (`operators.windows.with_global_prefix_sum`): per-slice parallel
    running sums + a broadcast of per-slice offsets whose count is a
    cluster constant. Decimal accumulation keeps the class boundaries
    partition-invariant, so the result is bit-identical to the serial
    window (and to the DuckDB oracle)."""
    from smart_energy_consumption_analytics_using_big_data_spark.operators.windows import (
        with_global_prefix_sum,
    )

    li = t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        sum_exact(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue")
    )
    tot = rev.agg(
        F.sum(F.col("revenue").cast("decimal(25,6)")).cast("double").alias("t")
    )
    cum = with_global_prefix_sum(
        rev,
        order=[F.desc("revenue"), F.asc("l_partkey")],
        value=F.col("revenue").cast("decimal(25,6)"),
        bucket_by="revenue",
        ascending=False,
        out="cum_rev",
    )
    c = cum.crossJoin(F.broadcast(tot)).select(
        "l_partkey",
        "revenue",
        (F.col("cum_rev").cast("double") / F.col("t")).alias("cum_share"),
    )
    k = c.withColumn(
        "abc_class",
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C"),
    )
    return k.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(
            F.sum(F.col("revenue").cast("decimal(25,6)")).cast("double"), 6
        ).alias("class_revenue"),
        F.round(F.min("cum_share"), 6).alias("min_cum_share"),
        F.round(F.max("cum_share"), 6).alias("max_cum_share"),
    )


@q(
    "q_ts_peaks",
    """
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hr, {dsum} AS v
      FROM events GROUP BY 1, 2
    ),
    n AS (
      SELECT user_id, hr, v,
             lag(v) OVER (PARTITION BY user_id ORDER BY hr) AS prv,
             lead(v) OVER (PARTITION BY user_id ORDER BY hr) AS nxt,
             quantile_cont(v, 0.9) OVER (PARTITION BY user_id) AS p90
      FROM hourly
    )
    SELECT user_id, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
           round(v, 6) AS peak_value
    FROM n
    WHERE prv IS NOT NULL AND nxt IS NOT NULL
      AND v > prv AND v > nxt AND v >= p90
    """.format(dsum=DSUM("value")),
)
def q_ts_peaks(spark, sf_dir):
    """Local peak detection on the per-user hourly load curve: an hour
    is a peak when it exceeds BOTH neighbors (strict local maximum,
    boundary hours excluded) and sits at or above the user's own p90 —
    the demand-response trigger (peaks are what tariffs penalize and
    what q_tou_peak_shift measures movement of). Two lags and one
    exact per-user percentile ride a single user-keyed exchange."""
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(sum_exact("value").alias("v"))
    wl = Window.partitionBy("user_id").orderBy("hr")
    wp = Window.partitionBy("user_id")
    n = hourly.select(
        "user_id",
        "hr",
        "v",
        F.lag("v").over(wl).alias("prv"),
        F.lead("v").over(wl).alias("nxt"),
        F.expr("percentile(v, 0.9)").over(wp).alias("p90"),
    )
    return n.where(
        F.col("prv").isNotNull()
        & F.col("nxt").isNotNull()
        & (F.col("v") > F.col("prv"))
        & (F.col("v") > F.col("nxt"))
        & (F.col("v") >= F.col("p90"))
    ).select(
        "user_id",
        F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.round("v", 6).alias("peak_value"),
    )


from smart_energy_consumption_analytics_using_big_data_spark.functions.statfns import probit_sql  # noqa: E402

_QQ_PROBIT = probit_sql("p")

@q(
    "q_eval_qq_normal",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS date, {dsum} AS d
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    err AS (
      SELECT user_id, date,
             round(d - lag(d) OVER (PARTITION BY user_id ORDER BY date),
                   6) AS v
      FROM daily
      QUALIFY lag(d) OVER (PARTITION BY user_id ORDER BY date) IS NOT NULL
    ),
    ranked AS (
      SELECT user_id, date, v,
             row_number() OVER (ORDER BY v, user_id, date) AS i,
             count(*) OVER () AS n
      FROM err
    ),
    pts AS (
      SELECT i, v,
             (CAST(i AS DOUBLE) - CAST(0.375 AS DOUBLE))
               / (CAST(n AS DOUBLE) + CAST(0.25 AS DOUBLE)) AS p
      FROM ranked
    ),
    qq AS (SELECT i, v, round({probit}, 6) AS m FROM pts),
    fit AS (
      SELECT count(*) AS n,
             {sx} AS sx, {sy} AS sy,
             {sxx} AS sxx, {syy} AS syy, {sxy} AS sxy
      FROM qq
    )
    SELECT qq.i, qq.m AS theo_q, qq.v AS sample_q,
           round((CAST(fit.n AS DOUBLE) * fit.sxy - fit.sx * fit.sy)
                 / (CAST(fit.n AS DOUBLE) * fit.sxx - fit.sx * fit.sx),
                 6) AS slope,
           round((fit.sy - (CAST(fit.n AS DOUBLE) * fit.sxy - fit.sx * fit.sy)
                           / (CAST(fit.n AS DOUBLE) * fit.sxx - fit.sx * fit.sx)
                         * fit.sx) / CAST(fit.n AS DOUBLE),
                 6) AS intercept,
           round((CAST(fit.n AS DOUBLE) * fit.sxy - fit.sx * fit.sy)
                 / sqrt((CAST(fit.n AS DOUBLE) * fit.sxx - fit.sx * fit.sx)
                        * (CAST(fit.n AS DOUBLE) * fit.syy - fit.sy * fit.sy)),
                 6) AS corr
    FROM qq CROSS JOIN fit
    """.format(
        dsum=DSUM("value"),
        probit=_QQ_PROBIT,
        sx="CAST(SUM(CAST(m AS DECIMAL(28,12))) AS DOUBLE)",
        sy="CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE)",
        sxx="CAST(SUM(CAST(m * m AS DECIMAL(28,12))) AS DOUBLE)",
        syy="CAST(SUM(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE)",
        sxy="CAST(SUM(CAST(m * v AS DECIMAL(28,12))) AS DOUBLE)",
    ),
)
def q_eval_qq_normal(spark, sf_dir):
    """Normal Q-Q table + least-squares reference line for forecast
    errors — the engine-side data behind the reference dashboard's
    `stats.probplot(errors, dist="norm")` panel
    (visualization/streamlit_app.py:406): SURVEY §2 row D3, previously
    the one inventory row left presentation-side.

    Errors are the naive persistence-forecast residuals (today's daily
    purchase total minus yesterday's, per user — the model-free analog
    of the dashboard's prediction errors, deterministic and therefore
    oracle-checkable). Plan shape, all scale-safe:

    1. daily rollup + per-user lag: one user-keyed exchange;
    2. global order statistics via the two-pass range-sliced
       row_number (`operators.windows.with_global_row_number`) — the
       inherent global sort of any Q-Q, WITHOUT a single-task window;
    3. theoretical quantiles at Blom plotting positions
       (i - 0.375)/(n + 0.25) — rational arithmetic only (scipy's
       default Filliben positions need pow(0.5, 1/n), a cross-engine
       ulp trap; Blom is the standard choice for normal Q-Q and keeps
       the position math bit-deterministic) — through Acklam's inverse
       normal CDF emitted as ONE shared SQL string for both engines
       (`functions/statfns.probit_sql`; rel. err < 1.15e-9, matches
       scipy.stats.probplot to ~1e-8);
    4. the probit output is rounded to 6dp BEFORE the regression
       moments, so the tail branches' 1-ulp JVM-vs-DuckDB ln()
       difference (measured: 6 of 9999 grid points differ in the last
       bit) cannot straddle a downstream decimal half boundary;
    5. slope/intercept/r of the fit line from raw moments accumulated
       in DECIMAL(28,12) (order- and partition-independent), finished
       with identical double arithmetic on both engines, constants
       broadcast to every point row.
    """
    from smart_energy_consumption_analytics_using_big_data_spark.operators.windows import (
        with_global_row_number,
    )

    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("date")
    ).agg(sum_exact("value").alias("d"))
    wlag = Window.partitionBy("user_id").orderBy("date")
    err = (
        daily.withColumn("pred", F.lag("d").over(wlag))
        .where(F.col("pred").isNotNull())
        .select(
            "user_id", "date", F.round(F.col("d") - F.col("pred"), 6).alias("v")
        )
    )
    ranked = with_global_row_number(
        err,
        order=[F.asc("v"), F.asc("user_id"), F.asc("date")],
        bucket_by="v",
        out="i",
    )
    nrow = err.agg(F.count(F.lit(1)).alias("n"))
    pts = ranked.crossJoin(F.broadcast(nrow)).select(
        "i",
        "v",
        (
            (F.col("i").cast("double") - F.lit(0.375))
            / (F.col("n").cast("double") + F.lit(0.25))
        ).alias("p"),
    )
    qq = pts.select("i", "v", F.round(F.expr(_QQ_PROBIT), 6).alias("m"))
    # the fit-moment broadcast subquery and the output projection both
    # read the point table: pin it so the two-pass ranking + probit run
    # once, not twice (bench/probe harnesses release leftover caches)
    qq = qq.persist()
    dsum12 = lambda c: F.sum(c.cast("decimal(28,12)")).cast("double")  # noqa: E731
    fit = qq.agg(
        F.count(F.lit(1)).cast("double").alias("fn"),
        dsum12(F.col("m")).alias("sx"),
        dsum12(F.col("v")).alias("sy"),
        dsum12(F.col("m") * F.col("m")).alias("sxx"),
        dsum12(F.col("v") * F.col("v")).alias("syy"),
        dsum12(F.col("m") * F.col("v")).alias("sxy"),
    )
    num = F.col("fn") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("fn") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("fn") * F.col("syy") - F.col("sy") * F.col("sy")
    return qq.crossJoin(F.broadcast(fit)).select(
        "i",
        F.col("m").alias("theo_q"),
        F.col("v").alias("sample_q"),
        F.round(num / den, 6).alias("slope"),
        F.round((F.col("sy") - num / den * F.col("sx")) / F.col("fn"), 6).alias(
            "intercept"
        ),
        F.round(num / F.sqrt(den * deny), 6).alias("corr"),
    )


@q(
    "q_graph_triangles_canon",
    """
    WITH edges0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT u AS node, count(*) AS d FROM (
        SELECT u FROM edges0 UNION ALL SELECT v FROM edges0
      ) t(u) GROUP BY 1
    ),
    oriented AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS lo,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS hi
      FROM edges0 e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM (
      SELECT 1
      FROM oriented e1
      JOIN oriented e2 ON e2.lo = e1.hi
      JOIN oriented e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
    )
    """,
)
def q_graph_triangles_canon(spark, sf_dir):
    """The `canonicalize=True` recovery path of oriented_triangles
    (ext/graph.py), driver-pinned (VERDICT r13 task 2): the co-purchase
    edge list is deliberately CORRUPTED the three ways real-world edge
    feeds are — every edge duplicated, half the copies flipped to the
    opposite orientation (so both (u,v) and (v,u) survive a naive
    dedup), plus a self-loop per partkey divisible by 10 — then handed
    to oriented_triangles(canonicalize=True), whose one
    least/greatest + distinct pass must recover EXACTLY the canonical
    graph: the oracle is the same triangle count q_graph_triangles
    computes from born-canonical edges. Without the flag this input
    silently doubles every degree and multi-counts each triangle (the
    ADVICE r12 contract hazard; pytest differential in
    tests/test_graph_differential.py) — this query pins the recovery
    under the driver. The corruption is synthesized map-side from the
    same basket-pair build as the hot path (no lineitem self-join), so
    the query stays scale-shaped; production callers with trusted
    canonical edges skip the flag and its shuffle."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import (
        copurchase_pairs,
        oriented_triangles,
    )

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    canon = (
        copurchase_pairs(li, "l_orderkey", "l_partkey")
        .select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .distinct()
    )
    flip = (F.col("u") + F.col("v")) % 2 == 0
    flipped = canon.select(
        F.when(flip, F.col("v")).otherwise(F.col("u")).alias("u"),
        F.when(flip, F.col("u")).otherwise(F.col("v")).alias("v"),
    )
    loops = (
        li.select(F.col("l_partkey").alias("u"))
        .filter(F.col("u") % 10 == 0)
        .distinct()
        .select("u", F.col("u").alias("v"))
    )
    corrupted = canon.unionAll(flipped).unionAll(loops)
    tri = oriented_triangles(corrupted, canonicalize=True)
    return tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
