"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine — the dedup ladder of a large-scale training-data
pipeline (north-star extension; SURVEY.md §7.2 step 5).

Design for 100 TB:
- exact dedup is a hash groupBy on a content fingerprint — one shuffle
  of (16-byte key, doc_id), never of document bodies;
- MinHash+LSH turns all-pairs O(n^2) into per-band equality joins: only
  documents sharing a band bucket are compared, which is the only
  all-pairs-free path at corpus scale;
- SimHash pairs join on pigeonhole bit-segment buckets (hamming <= k
  over b bits => exact agreement on one of k+1 disjoint segments), an
  equi join rather than a cross product, same exact output;
- everything is JVM-side expression work (md5 / higher-order array
  functions); hash values are md5-derived 60-bit ints so the DuckDB
  oracles can reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .text import fingerprint, tokens

# 60-bit deterministic hash both engines can compute:
#   spark : CAST(conv(substr(md5(x),1,15),16,10) AS BIGINT)
#   duckdb: CAST('0x' || substr(md5(x),1,15) AS BIGINT)


def h60(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles; a doc shorter than n tokens yields
    its single full-text shingle; an empty doc yields no shingles."""
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), k - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    short = F.array(F.concat_ws(" ", toks))
    empty = F.array().cast("array<string>")
    return F.array_distinct(
        F.when(k == 0, empty).when(k >= n, grams).otherwise(short))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Group by content fingerprint: (fingerprint, keep_doc_id = min id,
    n_docs). Downstream keeps rows where id == keep_doc_id."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_doc_id"),
             F.count(F.lit(1)).alias("n_docs"))
    )


def _doc_shingles(df: DataFrame, text_col: str, id_col: str,
                  n: int) -> DataFrame:
    """(doc_id, s): DISTINCT n-gram shingles, one row each.

    Zero-shuffle gram builder: posexplode(arrays_zip(t, slice(t, 2..),
    slice(t, 3..))) + concat_ws. arrays_zip/slice/concat_ws are
    JVM-native (no interpreted HOF lambdas, which dominated the dedup
    wall-clock — 7.7s of 12.8s at 5k docs), and unlike the earlier
    lead()-window formulation there is NO partitionBy(doc) exchange or
    sort: grams materialize in the scan's own partitions. At 100 TB
    that removes a full-corpus token shuffle from every shingle
    consumer.

    Matches ``shingles()``: docs with 1..n-1 tokens yield their single
    full-text shingle (arrays_zip pads the short slices with null and
    concat_ws skips nulls); empty docs yield no rows.
    """
    return _zip_grams(df, text_col, id_col, n, short_doc_rule=True) \
        .distinct()


def _doc_shingles_with_repeats(df: DataFrame, text_col: str,
                               id_col: str, n: int) -> DataFrame:
    """Like ``_doc_shingles`` but WITHOUT the trailing distinct — for
    consumers whose aggregate is insensitive to duplicates (minhash
    min()), dropping it removes a full exchange+dedup of shingle
    strings from the plan."""
    return _zip_grams(df, text_col, id_col, n, short_doc_rule=True)


def _zip_grams(df: DataFrame, text_col: str, id_col: str, n: int,
               *, short_doc_rule: bool) -> DataFrame:
    """(doc_id, s) n-gram rows with repeats, built shuffle-free (see
    ``_doc_shingles``). ``short_doc_rule``: docs with <n tokens emit
    their full text as a single gram (the ``shingles()`` contract);
    off, they emit nothing."""
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("t"),
                     F.size(toks).alias("n_tok"))
    cols = [F.col("t").alias("g0")] + [
        F.slice(F.col("t"), i + 1,
                F.greatest(F.col("n_tok") - i, F.lit(0))).alias(f"g{i}")
        for i in range(1, n)]
    z = base.select(
        "doc_id", "n_tok",
        F.posexplode(F.arrays_zip(*cols)).alias("pos", "z"))
    keep = F.col("pos") + n <= F.col("n_tok")
    if short_doc_rule:
        keep = keep | ((F.col("n_tok") < n) & (F.col("pos") == 0))
    gram = F.concat_ws(" ", *[F.col("z").getField(f"g{i}")
                              for i in range(n)])
    return z.filter(keep).select("doc_id", gram.alias("s"))


def ngram_jaccard_pairs(df: DataFrame, *, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.8,
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (a < b, jaccard >= threshold).

    Inverted-index join on shingles: only pairs sharing >= 1 shingle are
    ever scored, so cost is sum over shingles of df(s)^2, not n^2 docs.

    ``max_df`` caps hot shingles: a shingle appearing in more than
    ``max_df`` documents (boilerplate headers, licence text) is dropped
    BEFORE the self-join, bounding its contribution from df(s)^2 to 0.
    Jaccard is then computed over the capped shingle universe on both
    sides of the ratio, so the score stays self-consistent. The df count
    is a window over ``s`` — the same key the self-join hashes on, so
    the exchange is reused rather than added.

    Join-key width note: at cluster scale one would join on
    ``F.xxhash64(s)`` instead of the ~35-byte shingle text to quarter
    the exchanged key bytes. Measured here, the only cross-engine-
    reproducible hash (md5-derived h60) costs more to COMPUTE (~0.4s
    of md5 at sf0.1, +30% on this query) than the narrower key saves
    locally, where AQE broadcasts the small side anyway — so the
    strings stay, and the cheap-hash swap is the documented knob for a
    real cluster, where shuffle bytes dominate and xxhash64 is
    JVM-codegen'd.
    """
    sh = _capped_shingles(df, text_col=text_col, id_col=id_col, n=n,
                          max_df=max_df)
    return _jaccard_pairs_from_shingles(sh, threshold)


def _capped_shingles(df: DataFrame, *, text_col: str, id_col: str,
                     n: int, max_df: int | None) -> DataFrame:
    """(doc_id, s) distinct shingles with the optional df(s) <= max_df
    boilerplate cutoff applied — factored out of ngram_jaccard_pairs
    (ADVICE r9 #3) so the collapsed path's same-text survivor gate
    reuses the SAME capped relation (one shingle explode + one
    partitionBy(s) window subtree, shared via ReusedExchange) instead
    of re-deriving both on the designated scale path."""
    from pyspark.sql import Window
    sh = _doc_shingles(df, text_col, id_col, n)
    if max_df is not None:
        dfs = F.count(F.lit(1)).over(Window.partitionBy("s"))
        sh = (sh.withColumn("df_s", dfs)
              .filter(F.col("df_s") <= max_df).drop("df_s"))
    return sh


def _jaccard_pairs_from_shingles(sh: DataFrame,
                                 threshold: float) -> DataFrame:
    """Exact Jaccard pair scoring over a prepared (doc_id, s) shingle
    relation (see ngram_jaccard_pairs for the cost model)."""
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"),
                       F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"),
                       F.col("n_sh").alias("n_b"))
    return (
        common.join(F.broadcast(ca), "doc_a").join(F.broadcast(cb), "doc_b")
        .withColumn("jaccard",
                    F.col("n_common").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs_collapsed(df: DataFrame, *,
                                  text_col: str = "text",
                                  id_col: str = "doc_id", n: int = 3,
                                  threshold: float = 0.8,
                                  max_df: int | None = None
                                  ) -> DataFrame:
    """``ngram_jaccard_pairs`` made duplication-proof: same result set,
    but the shingle join runs over one REPRESENTATIVE per distinct
    text (md5 fingerprint grouping, min-id rep — the dedup_exact key),
    so exact corpus duplication no longer multiplies the inverted-
    index work. Jaccard is a function of the text alone, which makes
    the collapse exact: verified rep pairs expand to member id pairs
    through two fingerprint joins (output-sized work — the id-pair
    RESULT grows with duplication^2 by semantics and that term is
    irreducible), and same-text members pair up at jaccard exactly
    1.0 via an equality self-join, gated on >= 1 token because empty
    docs emit no shingles and therefore no pairs (the
    ``_doc_shingles`` contract). Measured (round 9): the id-grain
    form ran 22.8s at sf1 (10 verbatim copies of every doc -> 100x
    posting-list join output); collapsed, the join work is constant
    in the duplication factor. What the collapse does NOT fix is
    df(s) growth across DISTINCT near-duplicate texts — that is the
    exact-truth cost by construction, and the df-capped twin remains
    the scale path for it.

    ``max_df`` applies the document-frequency cutoff at DISTINCT-TEXT
    grain: df counts how many distinct texts carry a shingle, so the
    cap measures genuine boilerplate rather than copy-count (the
    id-grain cap silently zeroed the whole result at sf1, where 10
    verbatim copies push every shingle's df past any small absolute
    cutoff). Under a cap, a same-text pair is emitted (at jaccard
    1.0) only while its representative keeps >= 1 surviving shingle —
    mirroring the id-grain behavior where fully-capped docs vanish
    from the pair relation."""
    assert threshold <= 1.0  # same-text pairs score exactly 1.0

    def pair_fn(reps):
        # ONE capped shingle relation serves both the pair scorer and
        # the same-text survivor gate (ADVICE r9 #3: the gate used to
        # re-derive the shingle explode + partitionBy(s) window that
        # the scorer already computes — identical subtrees now, so
        # the window exchange is shared via ReusedExchange). Only
        # representatives that keep >= 1 surviving shingle emit
        # same-text pairs: a fully-capped doc has no shingle universe
        # and emits no pairs at all, matching the id-grain pipeline.
        sh = _capped_shingles(reps, text_col="text", id_col="doc_id",
                              n=n, max_df=max_df)
        pairs = _jaccard_pairs_from_shingles(sh, threshold)
        surviving = (sh.select("doc_id").distinct()
                     if max_df is not None else None)
        return pairs, surviving

    return _collapsed_text_pairs(df, text_col=text_col,
                                 id_col=id_col, score_col="jaccard",
                                 rep_pair_fn=pair_fn)


def minhash_lsh_pairs_collapsed(df: DataFrame, *,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                num_hashes: int = 12, bands: int = 4,
                                shingle_n: int = 3,
                                threshold: float = 0.5) -> DataFrame:
    """``minhash_lsh_pairs`` made duplication-proof: same result set
    (signatures are a function of the text alone, so identical texts
    share every band bucket AND agree on all ``num_hashes`` minhashes
    — est_jaccard exactly 1.0 — while cross-group members collide in
    a band exactly when their representatives do), but the banded
    self-join runs over one representative per distinct text, so
    verbatim duplication deepens no LSH bucket. Same skeleton as the
    exact-Jaccard collapse (``_collapsed_text_pairs``); tokenless
    docs produce no signature and can never pair, matching the
    id-grain pipeline.

    Measured (round 9, sf1 = 10 verbatim copies of every doc): the
    collapse LOSES here — 2.57s vs the id-grain 1.14s at sf1, 1.09s
    vs 0.55s at sf0.1 — because a 12-value signature makes the banded
    join's bucket-depth growth (d^2 candidate rows, deduped before
    scoring) cheaper than the two expansion joins; contrast the exact
    Jaccard collapse, whose id-grain form pays d^2 FULL posting-list
    intersections and drops 22.8s -> 3.5s. The registered
    dedup_minhash_lsh therefore keeps the id-grain plan; this form is
    the documented choice when the duplication factor is far beyond
    10 (mass-mirrored corpora), where d^2 bucket depth eventually
    dominates any constant join overhead. Set-equality with the
    id-grain build is pinned by tests/test_llm_ops.py."""
    assert threshold <= 1.0  # same-text pairs score exactly 1.0

    def pair_fn(reps):
        return minhash_lsh_pairs(reps, text_col="text",
                                 id_col="doc_id",
                                 num_hashes=num_hashes, bands=bands,
                                 shingle_n=shingle_n,
                                 threshold=threshold), None

    return _collapsed_text_pairs(df, text_col=text_col,
                                 id_col=id_col,
                                 score_col="est_jaccard",
                                 rep_pair_fn=pair_fn)


def rep_relations(df: DataFrame, *, text_col: str = "text",
                  id_col: str = "doc_id"):
    """The duplication-collapse generator, shared between the pair
    scorers (``_collapsed_text_pairs``) and the pre-flight audit
    (queries/llm_dedup.ngram_pair_blowup_audit) so the audit cannot
    profile a different candidate set than the scorer joins (VERDICT
    r10 ask #5 — the edit1_pair_blowup_audit discipline). Returns
    ``(fpn, gr, reps)``: the (doc_id, fp=md5(text)) fingerprint
    relation over tokenful docs, the per-fingerprint min-id
    representative ids, and the rep rows joined back to their text.
    Fingerprints are 16 bytes — document bodies never shuffle."""
    base = (df.select(F.col(id_col).alias("doc_id"),
                      F.col(text_col).alias("text"))
            .filter(F.size(tokens(F.col(text_col))) > 0))
    fpn = base.select("doc_id", F.md5("text").alias("fp"))
    gr = fpn.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    reps = base.join(gr, "doc_id")  # (doc_id, text, fp) — rep rows
    return fpn, gr, reps


def _collapsed_text_pairs(df: DataFrame, *, text_col: str,
                          id_col: str, score_col: str,
                          rep_pair_fn) -> DataFrame:
    """Duplication-collapse skeleton shared by the exact-Jaccard and
    MinHash-LSH pair builders. Any pair score that is a function of
    the TEXT alone collapses exactly: build scored pairs over one
    representative per distinct text (``rep_pair_fn``), expand
    verified rep pairs to member id pairs through two fingerprint
    joins (output-sized work — the id-pair result itself grows with
    duplication^2 by semantics and that term is irreducible), and
    pair same-text members at the score's identity value 1.0
    (identical texts agree on every shingle and every minhash).
    ``rep_pair_fn(reps)`` returns (pairs, surviving): ``surviving``
    is None (every fingerprint emits same-text pairs) or a (doc_id)
    relation of representatives that keep >= 1 surviving shingle (the
    df-cap survivor gate), derived from the SAME shingle relation the
    scorer consumes (ADVICE r9 #3).
    Tokenless docs emit no shingles and no signature, so they can
    never pair — everything restricts to tokenful rows upfront and
    the branches share one fingerprint relation. DOCUMENT BODIES
    NEVER SHUFFLE: the fingerprint relation is (16-byte fp, id) only;
    representatives get their text back via an id join against the
    scan (broadcast under AQE at bench scales; a narrow id-hashed
    exchange at cluster scale — either way the per-shingle explode
    still happens in scan partitions)."""
    fpn, gr, reps = rep_relations(df, text_col=text_col, id_col=id_col)
    rep_pairs, surviving = rep_pair_fn(reps.select("doc_id", "text"))
    fa = gr.select(F.col("doc_id").alias("doc_a"),
                   F.col("fp").alias("fp_a"))
    fb = gr.select(F.col("doc_id").alias("doc_b"),
                   F.col("fp").alias("fp_b"))
    rpf = (rep_pairs.join(fa, "doc_a").join(fb, "doc_b")
           .select("fp_a", "fp_b", score_col))
    ia = fpn.select(F.col("fp").alias("fp_a"),
                    F.col("doc_id").alias("ia"))
    ib = fpn.select(F.col("fp").alias("fp_b"),
                    F.col("doc_id").alias("ib"))
    diff = (rpf.join(ia, "fp_a").join(ib, "fp_b")
            .select(F.least("ia", "ib").alias("doc_a"),
                    F.greatest("ia", "ib").alias("doc_b"),
                    score_col))
    eligible = (fpn if surviving is None else
                fpn.join(gr.join(surviving, "doc_id").select("fp"),
                         "fp"))
    same = (eligible.select("fp", F.col("doc_id").alias("ia"))
            .join(eligible.select("fp",
                                  F.col("doc_id").alias("ib")), "fp")
            .filter(F.col("ia") < F.col("ib"))
            .select(F.col("ia").alias("doc_a"),
                    F.col("ib").alias("doc_b"),
                    F.lit(1.0).alias(score_col)))
    return diff.unionByName(same)


# MinHash permutation family: ONE md5 per shingle, then cheap integer
# affine mixing per hash function — hash_j(s) = (a_j * h + b_j) mod p
# with h = h60(s) mod p.  p = 2^31 - 1 (prime) keeps h and a_j under
# 2^31, so a_j * h < 2^62 never overflows int64 — BIGINT arithmetic is
# bit-identical in Spark and DuckDB, preserving the exact oracle.
# (The previous family hashed md5(j || ':' || s) per j: num_hashes md5
# calls per (doc, shingle) dominated dedup_minhash_lsh's wall-clock.)
_MIX_P = 2147483647  # 2^31 - 1, prime


def mix_consts(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) affine-mix constants, identical on the
    Spark side and inside the generated DuckDB oracle SQL."""
    out, state = [], 41
    for _ in range(num_hashes):
        state = (1103515245 * state + 12345) % _MIX_P
        a = state or 1
        state = (1103515245 * state + 12345) % _MIX_P
        out.append((a, state))
    return out


def minhash_signatures(df: DataFrame, *, text_col: str, id_col: str,
                       num_hashes: int, shingle_n: int = 3) -> DataFrame:
    """(doc_id, sig array<long>) via the codegen-friendly plan:
    explode shingles -> ONE md5 -> num_hashes affine-mix columns ->
    min-aggregate by doc. One shuffle (the groupBy), everything else
    pipelined in codegen. Shingles keep their in-doc repeats: min() is
    duplicate-insensitive, so the dedup exchange would be pure cost."""
    # Hoist the doc_id exchange ABOVE the shingle expansion (the
    # winnowing_fingerprints replan, SCALING.md round 9): the groupBy
    # below needs hashpartitioning(doc_id) anyway, so repartitioning
    # the compact (doc_id, text) rows first keeps the exchange count
    # unchanged while (a) shipping text bytes instead of one row per
    # shingle and (b) running the md5-per-shingle work on every core
    # instead of however few tasks the file layout gives the scan
    # (ONE at bench scale — the whole signature build was serial).
    # Explicit partition count: an AQE-coalescable exchange would
    # merge the small text bytes back to one partition and
    # re-serialize the hashing.
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sh = _doc_shingles_with_repeats(
        df.repartition(n_part, id_col), text_col, id_col, shingle_n)
    hashed = sh.select(
        "doc_id", (h60(F.col("s")) % _MIX_P).alias("h"))
    mixed = hashed.select(
        "doc_id",
        *[((F.lit(a) * F.col("h") + F.lit(b)) % _MIX_P).alias(f"h{j}")
          for j, (a, b) in enumerate(mix_consts(num_hashes))])
    mins = mixed.groupBy("doc_id").agg(
        *[F.min(f"h{j}").alias(f"m{j}") for j in range(num_hashes)])
    return mins.select(
        "doc_id",
        F.array(*[F.col(f"m{j}") for j in range(num_hashes)]).alias("sig"))


def band_rows(sigs: DataFrame, *, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, sig, band, bucket): one row per LSH band, bucket =
    md5 of the band's minhash slice. This is the SIGNATURE-STORE layout
    a persistent dedup pipeline writes: equality-joinable on
    (band, bucket), carrying sig for the verify step."""
    rows = num_hashes // bands
    return sigs.select(
        "doc_id", "sig",
        F.explode(F.array(*[
            F.struct(
                F.lit(bi).alias("band"),
                F.md5(F.concat_ws(
                    ",", *[F.element_at("sig", bi * rows + ri + 1)
                           .cast("string") for ri in range(rows)]))
                .alias("bucket"))
            for bi in range(bands)])).alias("bb"),
    ).select("doc_id", "sig", "bb.band", "bb.bucket")


def minhash_lsh_pairs(df: DataFrame, *, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 12,
                      bands: int = 4, shingle_n: int = 3,
                      threshold: float = 0.5) -> DataFrame:
    """MinHash+LSH near-dup candidates (a < b) with the estimated
    Jaccard (= fraction of agreeing minhashes) >= threshold.

    rows_per_band = num_hashes / bands; a pair becomes a candidate iff
    some band's minhash slice agrees entirely — the classic S-curve
    collision probability jaccard^(rows) per band.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    sigs = minhash_signatures(df, text_col=text_col, id_col=id_col,
                              num_hashes=num_hashes, shingle_n=shingle_n)
    brows = band_rows(sigs, num_hashes=num_hashes, bands=bands)

    a, b = brows.alias("a"), brows.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.sig").alias("sig_a"),
                F.col("b.sig").alias("sig_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
        lambda m: m)).cast("double") / F.lit(float(num_hashes))
    return (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b",
                F.round("est_jaccard", 6).alias("est_jaccard"))
    )


def connected_components(pairs: DataFrame, *, src: str = "doc_a",
                         dst: str = "doc_b",
                         max_iters: int = 25) -> DataFrame:
    """Cluster near-dup pairs into components via min-label propagation.

    Iterative relational algorithm (the dedup-clustering step that turns
    pairwise matches into keep/drop groups): every node starts labeled
    with itself; each round adopts the minimum label among itself and
    its neighbors; converges in <= diameter rounds. Each round is one
    join + groupBy — at scale this is the standard large-graph CC
    pattern (a la GraphX/connected-components-over-joins); the loop runs
    on the driver but all data stays distributed.

    Output: (doc_id, cluster_id = min doc id of the component), one row
    per node that appears in ``pairs``.
    """
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    ).localCheckpoint()
    labels = (edges.select("u").distinct()
              .withColumn("label", F.col("u")))
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("u", "v"), on="v")
            .groupBy("u").agg(F.min("label").alias("nmin")))
        # carry the old label through the step so convergence detection
        # is a filter over the ALREADY-materialized checkpoint — one
        # join + one action per round, not two of each
        stepped = (
            labels.join(neighbor_min, on="u", how="left")
            .select("u", F.col("label").alias("__old"),
                    F.least(
                        F.col("label"),
                        F.coalesce("nmin", F.col("label"))).alias("label"))
        ).localCheckpoint()  # truncate the lineage each round
        changed = stepped.filter(
            F.col("label") != F.col("__old")).limit(1).count()
        labels = stepped.select("u", "label")
        if changed == 0:
            break
    return labels.select(F.col("u").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def simhash(toks: Column, bits: int = 16) -> Column:
    """SimHash over token h60 hashes: bit b of the result is 1 iff more
    tokens have bit b set than unset.

    Single pass over the token array: one aggregate that zip-adds a
    per-bit +-1 vote vector. (A per-bit aggregate loop recomputes the
    md5 token hashes ``bits`` times and blows up codegen — measured 40x
    slower at 32 bits.)
    """
    th = F.transform(toks, lambda t: h60(t))
    zero = F.array(*[F.lit(0).cast("long") for _ in range(bits)])
    pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    votes = F.aggregate(
        th, zero,
        lambda acc, h: F.zip_with(
            acc, pow2,
            lambda a, p: a + F.when(h.bitwiseAND(p) != 0, F.lit(1))
                              .otherwise(F.lit(-1)).cast("long")))
    weighted = F.zip_with(
        votes, pow2,
        lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")))
    return F.aggregate(weighted, F.lit(0).cast("long"),
                       lambda acc, x: acc + x)


def simhash_pairs(df: DataFrame, *, text_col: str = "text",
                  id_col: str = "doc_id", bits: int = 16,
                  max_hamming: int = 3) -> DataFrame:
    """Pairs (a < b) whose simhash hamming distance <= max_hamming.

    Pigeonhole blocking (exact, no cross product): split the ``bits``-bit
    simhash into ``max_hamming + 1`` disjoint bit segments. A pair within
    hamming distance ``max_hamming`` differs in at most ``max_hamming``
    segments, so it agrees EXACTLY on at least one segment — joining on
    per-segment equality (an equi hash join) finds every qualifying pair;
    the exact ``bit_count(xor)`` filter then removes false candidates.
    Same output as the all-pairs formulation, O(n^2) -> O(sum of
    per-bucket collisions).
    """
    nblocks = max_hamming + 1
    if bits < nblocks:
        raise ValueError("need bits >= max_hamming + 1 segments")
    sh = df.select(F.col(id_col).alias("doc_id"),
                   simhash(tokens(F.col(text_col)), bits).alias("sh"))
    segs, off = [], 0
    for i in range(nblocks):
        width = (bits - off + (nblocks - i) - 1) // (nblocks - i)
        segs.append(F.struct(
            F.lit(i).alias("seg"),
            F.shiftrightunsigned(F.col("sh"), off)
            .bitwiseAND(F.lit((1 << width) - 1)).alias("key")))
        off += width
    seg_rows = (
        sh.select("doc_id", "sh", F.explode(F.array(*segs)).alias("b"))
        .select("doc_id", "sh", "b.seg", "b.key"))
    a, b = seg_rows.alias("a"), seg_rows.alias("b")
    cand = (
        a.join(b, (F.col("a.seg") == F.col("b.seg"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def incremental_exact_dedup(batch: DataFrame, store: DataFrame, *,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """New-batch-vs-corpus exact dedup: verdict per incoming document.

    The daily-ingest shape of a training-data pipeline: the corpus's
    content fingerprints live in a persisted store relation; each new
    batch is checked against the store AND within itself —
      - ``drop_store``: fingerprint already in the corpus;
      - ``drop_batch``: an earlier (min ``doc_id``) batch row has the
        same fingerprint;
      - ``keep``: first sighting — would be appended to the store.

    Scale: only 16-byte fingerprints shuffle (one join keyed on fp plus
    a min-window on the same key, so the exchange is reused); document
    bodies never move.
    """
    from pyspark.sql import Window
    bfp = batch.select(F.col(id_col).alias("doc_id"),
                       fingerprint(F.col(text_col)).alias("fp"))
    sfp = (store.select(fingerprint(F.col(text_col)).alias("fp"))
           .distinct().withColumn("in_store", F.lit(True)))
    first_in_batch = F.min("doc_id").over(Window.partitionBy("fp"))
    return (
        bfp.join(sfp, on="fp", how="left")
        .withColumn("first_id", first_in_batch)
        .select(
            "doc_id",
            F.when(F.col("in_store").isNotNull(), F.lit("drop_store"))
            .when(F.col("doc_id") > F.col("first_id"),
                  F.lit("drop_batch"))
            .otherwise(F.lit("keep")).alias("verdict"))
    )


def incremental_minhash_matches(batch: DataFrame, store: DataFrame, *,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                num_hashes: int = 12, bands: int = 4,
                                shingle_n: int = 3,
                                threshold: float = 0.5) -> DataFrame:
    """New-batch-vs-corpus near-dup matches via the LSH signature store.

    Joins the incoming batch's band rows against the corpus's persisted
    band rows on (band, bucket) — the store is written once and only
    appended to, so each ingest costs O(batch) band rows joined against
    the bucket-partitioned store, never a whole-corpus self-join.

    Output: (batch_doc, store_doc, est_jaccard) for every store document
    whose estimated Jaccard >= threshold; an empty result means the
    whole batch is novel.
    """
    def _bands(df: DataFrame) -> DataFrame:
        sigs = minhash_signatures(df, text_col=text_col, id_col=id_col,
                                  num_hashes=num_hashes,
                                  shingle_n=shingle_n)
        return band_rows(sigs, num_hashes=num_hashes, bands=bands)

    nb, st = _bands(batch).alias("nb"), _bands(store).alias("st")
    cand = (
        nb.join(st, (F.col("nb.band") == F.col("st.band"))
                & (F.col("nb.bucket") == F.col("st.bucket")))
        .select(F.col("nb.doc_id").alias("batch_doc"),
                F.col("st.doc_id").alias("store_doc"),
                F.col("nb.sig").alias("sig_b"),
                F.col("st.sig").alias("sig_s"))
        .dropDuplicates(["batch_doc", "store_doc"])
    )
    est = F.size(F.filter(
        F.zip_with("sig_b", "sig_s", lambda x, y: x == y),
        lambda m: m)).cast("double") / F.lit(float(num_hashes))
    return (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("batch_doc", "store_doc",
                F.round("est_jaccard", 6).alias("est_jaccard"))
    )
