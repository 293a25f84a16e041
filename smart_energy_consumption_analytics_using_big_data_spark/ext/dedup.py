"""Deduplication operators for training-data pipelines (SURVEY.md SS7).

Beyond-reference scope: exact dedup, n-gram Jaccard, MinHash+LSH and
SimHash near-dup detection over the `documents` table. All operators
are pure DataFrame compositions - explode/groupBy/join - so they
shuffle on content-derived keys and scale horizontally:

* shingling fans out to (doc, shingle) pairs - linear in corpus size;
* document-frequency pruning drops hot shingles BEFORE the pair join,
  the standard guard against quadratic blowup on stop-shingles;
* MinHash/LSH replaces the all-pairs join with a per-band bucket join,
  the 100 TB-safe candidate generation path;
* hashes are md5-based so every engine (and the DuckDB oracle)
  computes identical signatures - no JVM-specific hash functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from smart_energy_consumption_analytics_using_big_data_spark.functions.textfns import (
    tokens_ws,
    word_shingles,
)

HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash: canonical (min) id + count.

    Grouping on md5(text) instead of raw text keeps shuffle keys small -
    at 100 TB you never want multi-KB strings as shuffle keys.
    """
    return docs.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.min(id_col).alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


def incremental_dedup(
    history: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Admit only novel documents from a new batch against an already-
    deduplicated historical corpus (the daily-ingest shape: the corpus
    is petabytes, the batch is not, and re-deduplicating the union from
    scratch every day is the anti-pattern).

    Two stages, both keyed on md5(text) so shuffle keys stay
    fixed-width: (1) within-batch keep-first - min(id) over a
    hash-partitioned window; (2) LEFT ANTI join against the history's
    distinct hash set. The history side is projected to its hash column
    only before the join, so at 100 TB the anti-join moves hashes, not
    documents; when the accumulated hash set is still dimension-sized
    it broadcasts, and either way the batch side is the small one.
    Returns the admitted batch rows (all columns) plus `text_hash`.
    """
    hist = history.select(F.md5(F.col(text_col)).alias("text_hash")).distinct()
    hashed = batch.withColumn("text_hash", F.md5(F.col(text_col)))
    keep = F.min(id_col).over(Window.partitionBy("text_hash"))
    firsts = (
        hashed.withColumn("keep_id", keep)
        .where(F.col(id_col) == F.col("keep_id"))
        .drop("keep_id")
    )
    return firsts.join(hist, "text_hash", "left_anti")


def shingle_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int | None = 100,
    prune_strategy: str = "window",
    keep_df: bool = False,
) -> DataFrame:
    """(doc_id, shingle) pairs: distinct word n-grams, df-pruned.

    `max_df` drops shingles occurring in more than that many documents
    (stop-shingles) before any pair join - this is what keeps the
    candidate join from going quadratic on common phrases.

    Two pruning strategies with identical output:

    * "window" (default): count(*) over a shingle-partitioned window -
      ONE shuffle of the shingle table; measured fastest single-node
      (the sort is cheap relative to re-exploding the corpus).
    * "anti": aggregate a hot-shingle blacklist (tiny by construction)
      and broadcast ANTI-join it away. Preferred on a cluster with the
      shingle table persisted: no full sort of a fact-sized table, and
      the blacklist broadcast composes with AQE. Persist `docs` (or the
      returned table) to avoid re-exploding for the blacklist pass.

    ``keep_df=True`` adds the per-shingle document frequency as a `df`
    column (consumers needing a rarity order - prefix filtering - skip
    a second shingle-keyed shuffle); it implies the window strategy,
    since the anti path never materializes per-row counts.
    """
    # Project tokens ONCE before shingling: Catalyst does not CSE a
    # split() nested inside a higher-order-function lambda, so passing
    # tokens_ws(text) directly re-splits the text for every element_at
    # (measured 6x slower at sf0.1).
    tok = docs.select(F.col(id_col).alias("doc_id"), tokens_ws(F.col(text_col)).alias("__toks"))
    sh = tok.select(
        "doc_id", F.explode(word_shingles(F.col("__toks"), n)).alias("shingle")
    )
    if keep_df:
        # `keep_df=True` exposes the document frequency the window
        # strategy computes anyway (as `df`), so consumers that need a
        # canonical rarity order (prefix filtering) don't re-shuffle on
        # shingle to recount it.
        out = sh.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        if max_df is not None:
            out = out.filter(F.col("df") <= max_df)
        return out
    if max_df is None:
        return sh
    if prune_strategy == "anti":
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("shingle")
        )
        return sh.join(F.broadcast(hot), "shingle", "left_anti")
    w = Window.partitionBy("shingle")
    return (
        sh.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= max_df)
        .drop("__df")
    )


def jaccard_pairs(shingles: DataFrame, min_jaccard: float = 0.0) -> DataFrame:
    """All-pairs n-gram Jaccard over a (doc_id, shingle) table.

    Self-join on shingle -> common counts; sizes joined back in;
    jaccard = common / (|A| + |B| - common). Exact but quadratic in
    co-occurrence - use lsh_candidate_pairs at scale and reserve this
    for verification of candidates.
    """
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6),
        )
    )
    return out.filter(F.col("jaccard") >= min_jaccard).select("doc_a", "doc_b", "jaccard")


def prefix_filtered_pairs(
    shingles: DataFrame, t_num: int = 3, t_den: int = 5
) -> DataFrame:
    """Exact Jaccard-threshold pair join via PREFIX FILTERING
    (AllPairs/PPJoin, Bayardo et al. WWW'07): same answer as
    ``jaccard_pairs(..., min_jaccard=t)`` but only prefix-collided
    pairs are ever generated or verified.

    The threshold is the exact rational ``t_num/t_den`` (default 3/5 =
    0.6) so the minimum-overlap bound ``alpha = ceil(t*n)`` is computed
    in INTEGER arithmetic (``(t_num*n + t_den - 1) DIV t_den``): a
    float ``ceil(0.6*5)`` evaluates to 4 (0.6*5 == 3.0000000000000004),
    silently shortening the prefix below the lossless length and
    dropping true pairs at the boundary.

    Plan shape (all shuffles on content-derived keys, no all-pairs):

    1. global document frequency per shingle (one shuffle) defines the
       canonical rarest-first order - prefixes carry the most selective
       shingles, so hot shingles never enter the candidate join;
    2. per-doc prefix = first ``n - alpha + 1`` shingles in that order
       (row_number window over doc_id);
    3. candidates = self-join of the PREFIX table only, with the
       pair-size filter ``min(n_a, n_b)*t_den >= t_num*max(n_a, n_b)``
       applied before dedup (J >= t forces |B| >= t*|A|); the pair
       dedup is a groupBy that COUNTS the shared prefix shingles
       (``cp``, same shuffle a distinct would pay) and applies the
       PPJoin suffix bound before any verification: every common
       shingle is in both prefixes (counted by cp) or in at least one
       suffix, and common shingles in A's-prefix-but-B's-suffix and
       A's-suffix-but-B's-prefix cannot BOTH occur (the canonical
       order is global: u in B-suffix and v in B-prefix forces v < u,
       while u in A-prefix and v in A-suffix forces u < v), so
       ``overlap <= cp + max(alpha_a, alpha_b) - 1`` where
       ``alpha_x - 1`` is doc x's suffix length. Candidates sharing
       too few prefix shingles to possibly reach the pair's required
       overlap never reach the verification join (measured at sf0.1:
       193k candidate pairs -> a few hundred verified, the bound
       removing ~99% of verification input for 256 true pairs);
    4. verification joins each candidate pair to the two docs' shingle
       ARRAYS (collect_list once per doc) and counts the overlap with
       native ``array_intersect`` - one join row per candidate instead
       of one per (candidate x shingle). Measured at 10x sf0.1 docs
       (50k docs, 44M co-occurring pairs, 7.7M candidates): 9.5 s vs
       31.8 s for the exploded re-join verification and 10.7 s for the
       all-pairs baseline, identical pair sets (PERFORMANCE.md).
       The threshold keep ``common*t_den >= t_num*(n_a+n_b-common)``
       stays integer math, so the boundary J == t is kept exactly.

    Losslessness: J(A,B) >= t implies overlap >= ceil(t*max(|A|,|B|))
    >= each doc's own alpha, and the prefix lemma (any two sets with
    overlap >= alpha share an element in their first len-alpha+1
    canonical elements) applies per side with the weaker per-doc bound,
    so the kept prefixes are supersets of the required ones.
    """
    w_doc = Window.partitionBy("doc_id").orderBy("df", "shingle")
    with_df = (
        shingles
        if "df" in shingles.columns  # shingle_table(keep_df=True): reuse
        else shingles.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
    )
    ranked = with_df.withColumn("rk", F.row_number().over(w_doc)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    # alpha = ceil(t*n) exactly; prefix keeps rk <= n - alpha + 1
    alpha = (F.lit(t_num) * F.col("n") + F.lit(t_den - 1)).cast("long") / F.lit(t_den)
    prefix = ranked.filter(
        F.col("rk") <= F.col("n") - F.floor(alpha) + F.lit(1)
    ).select("doc_id", "shingle", "n")
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), "shingle", F.col("n").alias("n_a")
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), "shingle", F.col("n").alias("n_b")
    )
    # ceil(t*n) in integer arithmetic, same guard as `alpha` above
    def _alpha(n: F.Column) -> F.Column:
        return F.floor((F.lit(t_num) * n + F.lit(t_den - 1)).cast("long") / F.lit(t_den))

    cands = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.least("n_a", "n_b") * F.lit(t_den) >= F.lit(t_num) * F.greatest("n_a", "n_b")
        )
        # pair dedup AND shared-prefix count in one shuffle (cp = |PP|)
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("cp"))
        # suffix bound (docstring step 3): overlap <= cp + max(alpha)-1,
        # and a true pair needs overlap*(t_num+t_den) >= t_num*(n_a+n_b)
        .filter(
            (F.col("cp") + F.greatest(_alpha(F.col("n_a")), _alpha(F.col("n_b"))) - F.lit(1))
            * F.lit(t_num + t_den)
            >= F.lit(t_num) * (F.col("n_a") + F.col("n_b"))
        )
        .select("doc_a", "doc_b", "n_a", "n_b")
    )
    sets = shingles.groupBy("doc_id").agg(F.collect_list("shingle").alias("shs"))
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"))
    common = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("common", F.size(F.array_intersect("shs_a", "shs_b")))
    )
    return (
        common.filter(
            F.col("common") * F.lit(t_den)
            >= F.lit(t_num) * (F.col("n_a") + F.col("n_b") - F.col("common"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6
            ).alias("jaccard"),
        )
    )


def minhash_signatures(shingles: DataFrame, num_hashes: int = 6) -> DataFrame:
    """MinHash signature per document.

    Hash family h_i(s) = md5(i || '|' || s); the signature component is
    the lexicographic minimum - engine-portable and deterministic.
    One aggregation produces all components (single shuffle).

    (r16 note: an xxhash64 fast variant was implemented, measured, and
    reverted — the signature stage is shingle-build-bound, not
    digest-bound, so the native hash bought ~5% of the stage and
    nothing on the full query; OPTIMIZATION_r16.md "Negative results"
    item 1 is the record, and the variant expression is in git history
    for a future revisit.)
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def band_table(
    signatures: DataFrame, num_hashes: int = 6, band_size: int = 2
) -> DataFrame:
    """(doc_id, band, band_key) from a signature table — ONE explode
    over the signature row (banding re-used by the intra-corpus and
    incremental LSH paths)."""
    n_bands = num_hashes // band_size
    entries = [
        F.struct(
            F.lit(band).alias("band"),
            F.concat(
                *[F.col(f"mh_{band * band_size + j}") for j in range(band_size)]
            ).alias("band_key"),
        )
        for band in range(n_bands)
    ]
    return signatures.select("doc_id", F.explode(F.array(*entries)).alias("e")).select(
        "doc_id", F.col("e.band").alias("band"), F.col("e.band_key").alias("band_key")
    )


def lsh_incremental_candidates(
    new_sigs: DataFrame,
    history_sigs: DataFrame,
    num_hashes: int = 6,
    band_size: int = 2,
) -> DataFrame:
    """Near-dup candidates of a NEW batch against an indexed HISTORY —
    the nightly-ingest shape (intra-corpus LSH compares everything to
    everything; here history x history pairs are never generated, so
    candidate cost follows the new batch's bucket overlap only).

    The history side is exactly a materialized signature table (one
    k-hash row per historical document) — the lake-resident index a
    production pipeline appends to after each accepted batch; at 100 TB
    of history the banded join still only shuffles band keys, never
    documents. Output: distinct (new_id, hist_id) pairs sharing >= 1
    band.
    """
    nb = band_table(new_sigs, num_hashes, band_size).alias("n")
    hb = band_table(history_sigs, num_hashes, band_size).alias("h")
    return (
        nb.join(
            hb,
            (F.col("n.band") == F.col("h.band"))
            & (F.col("n.band_key") == F.col("h.band_key")),
        )
        .select(F.col("n.doc_id").alias("new_id"), F.col("h.doc_id").alias("hist_id"))
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 6,
    band_size: int = 2,
    persist: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: pairs agreeing on at least one band of the signature.

    Bands become bucket keys; the pair join runs per bucket - candidate
    generation cost is proportional to bucket sizes, not corpus^2.

    Plan shape: bands come from ONE explode over the signature row - a
    per-band union re-executed the whole scan->shingle->aggregate
    pipeline once per band (measured 6 corpus scans -> 2, 3.8s -> 1.3s
    at sf0.1). The self-join still computes the signature plan twice;
    `persist=True` caches the tiny signature table (one row of k hashes
    per document) to make it once - measured SLOWER single-node (the
    columnar cache fill outweighs one cheap extra scan) but it is the
    right call on a cluster where the upstream is a multi-TB corpus
    scan; callers can equally persist `signatures` themselves.

    ``max_bucket`` drops band buckets holding more than that many
    documents BEFORE the self-join — the bucket-level analogue of the
    shingle df-prune: a boilerplate-dominated bucket of B docs emits
    B^2/2 candidate pairs, and a handful of hub buckets can dominate
    the whole join (the scale probe's 10x near-dup-rich corpus grows
    candidates 577x without it). Capped buckets trade recall on
    LARGE duplicate groups (usually exact-dup families that the cheap
    exact pass should have removed first) for a hard bound on the
    pair-join output.
    """
    n_bands = num_hashes // band_size
    if persist:
        signatures = signatures.persist()
    bands = band_table(signatures, num_hashes, band_size)
    if max_bucket is not None:
        w = Window.partitionBy("band", "band_key")
        bands = (
            bands.withColumn("__bsize", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsize") <= max_bucket)
            .drop("__bsize")
        )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """SimHash fingerprint as a `bits`-char 0/1 string.

    Token hash bits come from md5 hex digits (digit >= '8' -> 1), token
    multiplicity weights naturally via explode; one groupBy computes all
    bit sums - a single shuffle regardless of `bits`.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_ws(F.col(text_col))).alias("token")
    ).withColumn("h", F.md5("token"))
    bit_cols = [
        F.when(
            F.sum(
                F.when(F.substring("h", j + 1, 1).isin(*HEX_HIGH), 1).otherwise(-1)
            )
            > 0,
            "1",
        )
        .otherwise("0")
        .alias(f"b{j}")
        for j in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_cols)
    return agg.select("doc_id", F.concat(*[f"b{j}" for j in range(bits)]).alias("simhash"))


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    rounds_out: list[int] | None = None,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: the step
    that turns pairwise matches into dedup groups (component id = min
    member id = the canonical document to keep).

    Min-label propagation with POINTER DOUBLING: each round first takes
    the neighbor minimum, then shortcuts ``lbl <- lbl(lbl)`` (label of
    label), so label information travels exponentially - convergence in
    O(log diameter) rounds instead of O(diameter). A 60-hop chain of
    near-identical docs (common in crawl dedup: a -> b -> c ... edit
    chains) converges in ~6 rounds, not 60. Spark-craft notes for
    scale: each round is two key-partitioned shuffles, every new label
    frame is localCheckpoint()ed to truncate lineage - without that the
    plan doubles per round and Catalyst re-analysis dominates by round
    ~10. Convergence is detected via the label-sum (monotone),
    costing one lightweight agg per round instead of a frame compare.
    Raises if max_iter rounds don't converge (a silently-partial
    labeling would merge dedup groups wrongly downstream).

    ``rounds_out``: optional list; the executed round count is appended
    (observability + regression tests pin it).
    """
    verts = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
    )
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sym = sym.localCheckpoint()
    labels = verts.select("id", F.col("id").alias("lbl")).localCheckpoint()
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        nbr_min = (
            sym.join(labels.select(F.col("id").alias("b"), F.col("lbl").alias("nlbl")), "b")
            .groupBy("a")
            .agg(F.min("nlbl").alias("nbr_min"))
        )
        stepped = labels.join(nbr_min, labels["id"] == nbr_min["a"], "left").select(
            "id", F.least(F.col("lbl"), F.coalesce("nbr_min", "lbl")).alias("lbl")
        )
        # pointer doubling: follow one more hop through the label table
        lbl_lookup = stepped.select(F.col("id").alias("lbl"), F.col("lbl").alias("ll"))
        labels = (
            stepped.join(lbl_lookup, "lbl", "left")
            .select("id", F.least(F.col("lbl"), F.coalesce("ll", "lbl")).alias("lbl"))
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if rounds_out is not None:
        rounds_out.append(rounds)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (graph diameter exceeds 2^max_iter)"
        )
    return labels.select("id", F.col("lbl").alias("component"))


def simhash_candidate_pairs(
    fingerprints: DataFrame,
    bits: int = 32,
    n_blocks: int = 4,
    max_hamming: int = 3,
    fp_col: str = "simhash",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs via hamming-LSH block banding.

    Pigeonhole guarantee: a pair with hamming distance < n_blocks must
    agree on at least one of the n_blocks fingerprint blocks, so with
    max_hamming <= n_blocks - 1 candidate generation is COMPLETE (no
    false negatives) while the pair join stays per-block-bucket instead
    of corpus^2. Verification computes exact hamming on candidates only.

    The bit-string fingerprint is parsed to a single integer ONCE per
    block row (conv base 2), so per-candidate hamming is one
    xor + bit_count instruction pair. The previous formulation - a
    higher-order filter(sequence(1, bits)) with 2*bits substr calls -
    is interpreted per element and allocated per character; replacing
    it measured 54.8 s -> 4.7 s on the arrow pair stage at sf0.1
    (5.4M candidates) and 170 s -> 9.4 s on the denser md5 stage
    (15M candidates), identical pair sets both ways.

    ``max_bucket`` (default off) drops block buckets holding more than
    that many docs before the self-join - same hub-bucket guard and
    same recall trade as lsh_candidate_pairs: a B-doc bucket emits
    B^2/2 pairs, and dense boilerplate clusters produce exactly such
    buckets. The oracled default keeps completeness.

    Dense-corpus caveat: on data with large near-identical clusters the
    TRUE pair set is itself quadratic in cluster size (the synthetic
    sf0.1 corpus yields 425k pairs from 5k docs), so any pair-listing
    output is the bottleneck, not the algorithm - feed these edges to
    connected_components and keep one canonical doc per group instead
    of materializing every pair.
    """
    block_len = bits // n_blocks
    entries = [
        F.struct(
            F.lit(i).alias("block"),
            F.substring(F.col(fp_col), i * block_len + 1, block_len).alias("key"),
        )
        for i in range(n_blocks)
    ]
    blocks = fingerprints.select(
        F.col(id_col).alias("doc_id"),
        F.conv(F.col(fp_col), 2, 10).cast("bigint").alias("fp_int"),
        F.explode(F.array(*entries)).alias("e"),
    ).select("doc_id", "fp_int", F.col("e.block").alias("block"), F.col("e.key").alias("key"))
    if max_bucket is not None:
        w = Window.partitionBy("block", "key")
        blocks = (
            blocks.withColumn("__bsize", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsize") <= max_bucket)
            .drop("__bsize")
        )
    a, b = blocks.alias("a"), blocks.alias("b")
    # Verify hamming BEFORE the pair dedup (r15): a pair agreeing on j
    # of the n_blocks blocks comes out of the bucket join j times, and
    # the old shape shuffled every copy (plus both 8-byte fingerprints)
    # into the distinct only to filter most rows afterwards. The
    # xor+bit_count runs map-side on each copy (two instructions, far
    # cheaper than shuffling the row), so the distinct's exchange now
    # carries only surviving near-dup pairs at (doc_a, doc_b, hamming)
    # width. hamming is a pure function of the pair, so
    # filter-then-distinct ≡ distinct-then-filter — identical output
    # (oracle + pytest parity re-verified; same-session A/B in
    # OPTIMIZATION_r15.md).
    hamming = F.bit_count(F.col("a.fp_int").bitwiseXOR(F.col("b.fp_int")))
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every k-char gram, then keep the MINIMUM
    hash of each w-gram sliding window. Guarantee: any substring of
    length >= w + k - 1 shared by two documents contributes at least
    one identical fingerprint to both - exact-substring dedup coverage
    at ~1/w the index size of all-grams.

    Everything is native higher-order-function math (transform /
    slice / array_min over sequence) on a single scan - no explode
    until the final distinct-fingerprint unnest, no Python.

    ``hash_fn``: "md5" (default) takes the first 8 md5 hex digits as a
    long - portable to the SQL oracle, but pays a full digest per
    character k-gram (the dominant cost of the operator). "xxhash64"
    is the production lever: one native 64-bit hash per gram, ~3x
    cheaper, identical winnowing guarantees (any hash family works -
    exact-duplicate substrings still collide) - just not reproducible
    in DuckDB, so the fast path is pytest/bench-verified instead of
    oracled. Output: (id_col, fp) distinct.
    """
    n_grams = F.length(text_col) - F.lit(k - 1)
    if hash_fn == "xxhash64":
        gram_hash = lambda i: F.xxhash64(F.col(text_col).substr(i, F.lit(k)))  # noqa: E731
    elif hash_fn == "md5":
        gram_hash = lambda i: F.conv(  # noqa: E731
            F.substring(F.md5(F.col(text_col).substr(i, F.lit(k))), 1, 8), 16, 10
        ).cast("long")
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    grams = F.transform(F.sequence(F.lit(1), n_grams), gram_hash)
    sized = docs.filter(F.length(text_col) >= w + k - 1).select(
        F.col(id_col), grams.alias("__grams")
    )
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("__grams") - F.lit(w - 1)),
            lambda j: F.array_min(F.slice("__grams", j, w)),
        )
    )
    return sized.select(id_col, F.explode(fps).alias("fp")).distinct()


def winnow_pairs(
    docs: DataFrame,
    k: int = 8,
    w: int = 16,
    max_df: int = 16,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    skew_guard: bool = False,
) -> DataFrame:
    """Exact-substring-overlap candidates: documents sharing >=
    `min_shared` winnowing fingerprints. Boilerplate fingerprints
    (appearing in > `max_df` docs) are pruned BEFORE the pair join -
    same df-pruning that keeps the shingle LSH join off hot keys, so
    bucket sizes (not corpus^2) bound the join.

    ``hash_fn="arrow"`` routes the fingerprint stage through the O(n)
    Arrow/numpy path (winnow_fingerprints_arrow) — measured 5x faster
    than the native xxhash64 O(n*w) path at sf0.1 (PERFORMANCE.md
    round 4); selection guarantees are hash-family-independent.

    Pair shape (r15): group-and-enumerate, not a self-join. The old
    ``a JOIN b ON fp`` consumed the fingerprint subtree on BOTH join
    inputs — Spark does not CSE, so the arrow path ran its corpus-
    sized mapInPandas kernel twice — and the df-prune paid its own
    window sort+exchange first. One ``groupBy(fp)`` now collects the
    (already-distinct) doc set per fingerprint, the boilerplate prune
    becomes a ``size() <= max_df`` filter on the SAME aggregation, and
    the surviving (<= max_df, so <= C(max_df,2) per row) pairs are
    enumerated in-row with the ext/graph.basket_pairs upper-triangle
    expression. Exact equality with the join (exceptAll 0 both ways on
    all three hash paths): rows-per-fp == size(collect_set) because
    both fingerprint producers emit distinct (doc, fp); the sorted
    upper triangle IS the doc_a < doc_b join output; the explicit
    non-null fp filter mirrors the inner equi-join. Interleaved A/B at
    sf0.1 (OPTIMIZATION_r15.md, shipped item 7): arrow 2.25 -> 1.66 s
    median (5/5), xxhash64 4.84 -> 4.12 (5/5), md5 a wash (digest-
    bound).

    ``skew_guard=True`` (r16, VERDICT r15 item 2): without it, one
    aggregation buffer holds a hot fingerprint's FULL doc set before
    the size filter drops it — a degenerate boilerplate fp shared by
    10^7+ docs is a single-buffer OOM candidate at scale. The guard
    count-gates fingerprints BEFORE the collect: a count(*)-per-fp
    aggregation (buffer = one long per group, skew-safe partial agg)
    keeps only df <= max_df fps, a left-semi join prunes the fps rows,
    and only then does collect_set run — no over-max_df doc array is
    ever buffered. Output-identical (rows-per-fp == size(collect_set),
    so dropping groups before the collect == the size filter after;
    exceptAll 0 both ways on all three hash paths,
    OPTIMIZATION_r16.md shipped item 3). The fps subtree has two
    consumers, but AQE reuses the fingerprint stage's distinct exchange
    for the second, so the Arrow kernel still runs once (the
    pre-execution plan shows it twice); repartitioning fps by fp to
    share one exchange measured slower (1/10 pairs). The count gate and
    semi join still cost about a fifth of the query at sf0.1: arrow
    1.35 -> 1.61 s median (guard won 1/10 pairs), shuffle write 1.0 ->
    3.1 MiB (PERFORMANCE.md, "One A/B harness") — so callers gate it on
    corpus size, the q_sql_min_cost_supplier pattern: robustness is
    only needed where the data is big enough to carry a degenerate fp."""
    if hash_fn == "arrow":
        fps = winnow_fingerprints_arrow(docs, k, w, text_col, id_col)
    else:
        fps = winnow_fingerprints(docs, k, w, text_col, id_col, hash_fn)
    tri = (
        "flatten(transform(__docs, (x, i) -> "
        "transform(slice(__docs, i + 2, size(__docs) - i - 1), "
        "y -> struct(x AS doc_a, y AS doc_b))))"
    )
    fps = fps.filter(F.col("fp").isNotNull())
    if skew_guard:
        ok = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("fp")
        )
        grouped = (
            fps.join(ok.hint("shuffle_hash"), "fp", "left_semi")
            .groupBy("fp")
            .agg(F.array_sort(F.collect_set(id_col)).alias("__docs"))
        )
    else:
        grouped = (
            fps.groupBy("fp")
            .agg(F.array_sort(F.collect_set(id_col)).alias("__docs"))
            .filter(F.size("__docs") <= max_df)
        )
    return (
        grouped.select(F.explode(F.expr(tri)).alias("__p"))
        .select("__p.doc_a", "__p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_fingerprints_arrow(
    docs: DataFrame,
    k: int = 8,
    w: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """O(n)-per-document winnowing via an Arrow-batched mapInPandas
    (VERDICT r3 item 8: the prototype that answers whether moving the
    text column through Arrow beats the native O(n*w) array_min path).

    Per batch, pure numpy: a vectorized polynomial rolling hash over
    the utf-8 bytes (k fused multiply-adds, uint64 wraparound), then
    the van Herk/Gil-Werman sliding minimum — two `minimum.accumulate`
    passes over w-sized blocks combined into every w-window's min, O(n)
    total regardless of w, against the native path's O(n*w) slice/
    array_min. The winnowing GUARANTEE (any shared substring of length
    >= w + k - 1 yields a shared fingerprint) holds for ANY hash
    family, so this path trades oracle portability (md5) for speed the
    same way the xxhash64 fast path does; its selection quality is
    pinned by the same pytest invariants, not by DuckDB.

    Scale shape: one scan, no shuffle until the final distinct; each
    Arrow batch holds ~10k docs' text once — the transfer cost r3's
    analysis predicted would dominate, now measured (PERFORMANCE.md
    round 4) instead of argued.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [StructField(id_col, LongType(), False), StructField("fp", LongType(), True)]
    )
    min_len = w + k - 1

    def _batches(iterator):
        import numpy as np
        import pandas as pd

        base = np.uint64(1099511628211)  # FNV-1a prime; any 64-bit odd base works
        powers = np.array(
            [base ** np.uint64(k - 1 - j) for j in range(k)], dtype=np.uint64
        )

        def sliding_min(a: "np.ndarray", win: int) -> "np.ndarray":
            n = len(a)
            n_out = n - win + 1
            n_blocks = -(-n // win)
            pad = np.full(n_blocks * win - n, np.iinfo(np.int64).max, dtype=a.dtype)
            blocks = np.concatenate([a, pad]).reshape(n_blocks, win)
            pref = np.minimum.accumulate(blocks, axis=1).ravel()
            suff = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
            return np.minimum(suff[:n_out], pref[win - 1 : win - 1 + n_out])

        for pdf in iterator:
            ids_out: list = []
            fps_out: list = []
            for did, text in zip(pdf[id_col].to_numpy(), pdf[text_col].to_numpy()):
                if text is None:
                    continue
                raw = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                if len(raw) < min_len:
                    continue
                b = raw.astype(np.uint64)
                n_grams = len(b) - k + 1
                with np.errstate(over="ignore"):
                    h = np.zeros(n_grams, dtype=np.uint64)
                    for j in range(k):
                        h += b[j : j + n_grams] * powers[j]
                # int64 view keeps ordering irrelevant details away from
                # the guarantee (mins of a consistent total order)
                fps = np.unique(sliding_min(h.view(np.int64), w))
                ids_out.append(np.full(len(fps), did, dtype=np.int64))
                fps_out.append(fps)
            if ids_out:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(ids_out),
                        "fp": np.concatenate(fps_out),
                    }
                )

    sized = docs.select(id_col, text_col)
    return sized.mapInPandas(_batches, out_schema).distinct()


def minhash_signatures_arrow(
    docs: DataFrame,
    num_hashes: int = 6,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signatures via Arrow mapInPandas — the vectorized
    counterpart of `minhash_signatures` (same Arrow lesson as
    winnow_fingerprints_arrow, PERFORMANCE.md round 4).

    Per Arrow batch the whole batch's word n-gram shingles are hashed
    in ONE vectorized call (pandas' cython siphash over an object
    array, fixed key so results are deterministic), the k hash
    functions derive by splitmix64-finalizing h XOR a per-function
    constant, and each document's minimum comes from
    ``np.minimum.reduceat`` over the batch-concatenated hash array —
    no shingle ever leaves the executor, no shuffle at all for the
    signature stage (vs the native path's explode + groupBy shuffle of
    the corpus-sized shingle table).

    Signature components are zero-padded hex STRINGS so the shared
    `band_table`/`lsh_candidate_pairs` machinery applies unchanged.
    Unlike the oracled md5 path, signatures are computed over ALL
    shingles (no max_df pruning — pruning needs global document
    frequencies; boilerplate suppression belongs to the verify stage).
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [StructField(id_col, LongType(), False)]
        + [StructField(f"mh_{i}", StringType(), False) for i in range(num_hashes)]
    )

    def _batches(iterator):
        import numpy as np
        import pandas as pd

        # per-function constants: golden-ratio multiples mod 2^64
        # (python ints, so the intentional wraparound raises no warning)
        keys = np.array(
            [(0x9E3779B97F4A7C15 * (i + 1)) % (1 << 64) for i in range(num_hashes)],
            dtype=np.uint64,
        )

        def splitmix64(x: "np.ndarray") -> "np.ndarray":
            x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
            x ^= x >> np.uint64(30)
            x *= np.uint64(0xBF58476D1CE4E5B9)
            x ^= x >> np.uint64(27)
            x *= np.uint64(0x94D049BB133111EB)
            x ^= x >> np.uint64(31)
            return x

        for pdf in iterator:
            shingles: list = []
            starts: list = []
            doc_ids: list = []
            for did, text in zip(pdf[id_col].to_numpy(), pdf[text_col].to_numpy()):
                if text is None:
                    continue
                toks = text.split()
                if len(toks) < n:
                    continue
                starts.append(len(shingles))
                doc_ids.append(did)
                shingles.extend(
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                )
            if not doc_ids:
                continue
            base = pd.util.hash_array(
                np.array(shingles, dtype=object), hash_key="spark_graft_mh16"
            )
            out = {id_col: np.array(doc_ids, dtype=np.int64)}
            with np.errstate(over="ignore"):
                for i in range(num_hashes):
                    hk = splitmix64(base ^ keys[i])
                    mins = np.minimum.reduceat(hk, np.array(starts, dtype=np.intp))
                    out[f"mh_{i}"] = [f"{v:016x}" for v in mins]
            yield pd.DataFrame(out)

    return docs.select(id_col, text_col).mapInPandas(_batches, out_schema)


def minhash_lsh_arrow(
    docs: DataFrame,
    num_hashes: int = 6,
    band_size: int = 2,
    n: int = 3,
    min_jaccard: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Full Arrow-path near-dup pipeline: vectorized signatures ->
    shared LSH banding/bucket join -> exact n-gram Jaccard verification
    of the candidates in a second Arrow pass over the paired texts.

    The verify stage computes jaccard over DISTINCT word n-gram sets,
    so its values are hash-family-independent and must EQUAL the
    oracled `jaccard_pairs` numbers for the same pairs (pinned by
    tests/test_minhash_arrow.py) — only candidate RECALL differs with
    the hash family. Candidates are bucket-confined; the only wide
    shuffles are the band-key join and the two doc_id text joins.
    """
    # Materialize the signature table ONCE (r15): the banded self-join
    # consumes it on both sides and Spark does not CSE the branches, so
    # the vectorized Python signature kernel (the corpus-sized
    # mapInPandas pass) executed twice per call. The table is tiny (one
    # row of k hex strings per document), so a lazy localCheckpoint
    # wins where the md5/JVM path's persist measured slower (r4): here
    # the duplicated subtree is a Python-worker pass, not a cheap JVM
    # recompute. Same-session interleaved A/B at sf0.1: 1.50 -> 1.26 s
    # median, 5/5 reps faster, identical pairs (OPTIMIZATION_r15.md);
    # eager=False + ContextCleaner reclaim (oriented_triangles
    # lifecycle pattern). The md5 paths stay unmaterialized — re-probed
    # this round, still a wash (the r4 conclusion holds for JVM
    # recomputes).
    sigs = minhash_signatures_arrow(docs, num_hashes, n, text_col, id_col).localCheckpoint(
        eager=False
    )
    cand = lsh_candidate_pairs(sigs, num_hashes, band_size, max_bucket=max_bucket)
    texts = docs.select(F.col(id_col), F.col(text_col))
    paired = (
        cand.join(
            texts.select(
                F.col(id_col).alias("doc_a"), F.col(text_col).alias("__ta")
            ),
            "doc_a",
        )
        .join(
            texts.select(
                F.col(id_col).alias("doc_b"), F.col(text_col).alias("__tb")
            ),
            "doc_b",
        )
    )
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("doc_a", LongType(), False),
            StructField("doc_b", LongType(), False),
            StructField("jaccard", DoubleType(), True),
        ]
    )

    def _verify(iterator):
        import pandas as pd

        def grams(text: str) -> set:
            toks = text.split()
            return {
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            }

        for pdf in iterator:
            if not len(pdf):
                continue
            jac = []
            for ta, tb in zip(pdf["__ta"].to_numpy(), pdf["__tb"].to_numpy()):
                ga, gb = grams(ta), grams(tb)
                inter = len(ga & gb)
                union = len(ga) + len(gb) - inter
                jac.append(round(inter / union, 6) if union else None)
            yield pd.DataFrame(
                {"doc_a": pdf["doc_a"], "doc_b": pdf["doc_b"], "jaccard": jac}
            )

    out = paired.mapInPandas(_verify, out_schema)
    return out.filter(F.col("jaccard") >= min_jaccard)


def simhash_arrow(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """SimHash fingerprints via Arrow mapInPandas — third instance of
    the measured text-kernel pattern (winnowing, MinHash, PERFORMANCE.md
    round 4): the whole batch's tokens hash in one vectorized siphash
    call, each token's hash unpacks to a (n_tokens, bits) ±1 matrix in
    numpy, and per-document bit sums come from ``np.add.reduceat`` —
    the signature stage never explodes or shuffles the token stream.
    Hash family differs from the oracled md5 path (rows-only; SimHash
    properties are hash-family-independent: exact duplicates collide,
    hamming distance tracks token-multiset overlap)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("simhash", StringType(), False),
        ]
    )

    def _batches(iterator):
        import numpy as np
        import pandas as pd

        shifts = np.arange(bits, dtype=np.uint64)

        for pdf in iterator:
            tokens: list = []
            starts: list = []
            doc_ids: list = []
            for did, text in zip(pdf[id_col].to_numpy(), pdf[text_col].to_numpy()):
                if text is None:
                    continue
                toks = text.split()
                if not toks:
                    continue
                starts.append(len(tokens))
                doc_ids.append(did)
                tokens.extend(toks)
            if not doc_ids:
                continue
            h = pd.util.hash_array(np.array(tokens, dtype=object), hash_key="spark_graft_sh16")
            signs = (((h[:, None] >> shifts) & np.uint64(1)).astype(np.int32) * 2) - 1
            sums = np.add.reduceat(signs, np.array(starts, dtype=np.intp), axis=0)
            fps = ["".join("1" if v > 0 else "0" for v in row) for row in sums]
            yield pd.DataFrame({id_col: np.array(doc_ids, dtype=np.int64), "simhash": fps})

    return docs.select(id_col, text_col).mapInPandas(_batches, out_schema)
