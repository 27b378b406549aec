"""Deduplication operators — [extension] (driver north star).

Every pair operator is one dataflow, block → verify: emit candidate
keys per document, equi-join on them, then score only the candidate
pairs with an exact measure.  Blocking keys / verify measure:

* ngram_jaccard_pairs          every shingle / Jaccard (exact ground truth)
* prefix_filter_jaccard_pairs  rarest-shingle prefix / Jaccard (exact)
* containment_pairs            shingle, delta × history / containment
* minhash_lsh_pairs            MinHash band keys / Jaccard
* simhash_pairs                4×16-bit SimHash chunks / hamming
* lev1_pairs                   FastSS deletion keys / Levenshtein

``dedup_exact`` / ``dedup_fingerprint`` need no pairs (one Window
exchange).  The LSH band, SimHash chunk and containment posting indexes
persist with append / delete / compact, and the ``incremental_*``
operators probe them with a new batch so history is never re-blocked.
Shared stages, each written once: ``shingle_docs``,
``_signature_frame``, ``bands_from_signature`` (also the sign-LSH
banding of ``similarity.cosine_pairs_lsh``), ``_verify_jaccard`` and
``_cap_doc_freq`` (the ``max_df`` cap).

Everything is pure Column expressions (higher-order functions, xxhash64)
— no Python UDFs — so signatures compute at scan speed and the only
shuffles are the candidate-pair joins.

Scale design (100 TB): ``max_df`` caps the exact self-join's blow-up on
high-document-frequency shingles (a shingle in >max_df docs contributes
candidates quadratically but information logarithmically); MinHash-LSH
replaces the all-pairs join with |bands| small equi-joins on band keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

LONG_MAX = (1 << 63) - 1


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------


def ngram_list(words: Column, n: int) -> Column:
    """All n-grams (multiset, in position order) of a token-array column.

    Built as a zip of n SHIFTED SLICES of the token array folded with
    pairwise concat — not an index transform.  Higher-order lambdas
    are interpreted (no codegen), so per-element expression count
    dominates: the zip lambda is one concat, versus a slice+concat (4×
    slower) or n element_at casts (14× slower) per gram — measured
    1.0 s vs 4.1 s vs 14.7 s for 260k grams at sf0.1.  A
    window/posexplode build is marginally faster still but costs two
    full-corpus shuffles — wrong trade at 100 TB; shingling must stay
    an in-scan projection.
    """
    count = F.greatest(F.size(words) - (n - 1), F.lit(0))
    parts = [F.slice(words, j + 1, count) for j in range(n)]
    grams = parts[-1]
    for p in reversed(parts[:-1]):
        grams = F.zip_with(p, grams, lambda x, y: F.concat_ws(" ", x, y))
    return grams


def _ngrams_of(words: Column, n: int) -> Column:
    """Distinct n-grams of an (ideally materialised) token-array column
    (set semantics — the shingle form Jaccard/MinHash consume)."""
    return F.array_distinct(ngram_list(words, n))


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lowercased whitespace tokens.

    Single-Column convenience form — fine for short strings/tests, but
    the gram lambda references the token array n× per element and
    Catalyst has no let-binding, so the text is RE-TOKENIZED ~n·|grams|
    times per row.  Corpus operators use ``shingle_docs`` instead,
    which materialises the token array behind an exchange first.
    """
    words = F.array_remove(F.split(F.lower(text), r"\s+"), "")
    return _ngrams_of(words, n)


def shingle_docs(
    df: DataFrame, text_col: str, id_col: str, n: int,
    drop_short: bool = True,
) -> DataFrame:
    """(doc, shingles) with the tokenization staged: tokenize once into
    a materialised column (repartition barrier doubles as the core
    spread for single-file corpora), then derive grams from cheap
    column reads — O(tokens) instead of O(n·grams) tokenizations.
    Measured 11.4 s → <1 s for 5000 docs at sf0.1.

    ``drop_short=True`` (default) elides docs with < n tokens — right
    for pair mining, where they can never match.  Pass False when the
    caller must keep EVERY doc (e.g. hybrid retrieval, where a short
    doc still ranks in the dense arm with an empty shingle set) —
    those rows come back with ``shingles = []``.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    # Three layout rules, each worth ~10 s/query at sf0.1 (measured):
    # 1. The non-empty filter is phrased on the TOKEN count
    #    (equivalent: distinct n-grams exist iff tokens ≥ n) and sits
    #    BELOW the gram projection.  Phrased as size(shingles) > 0
    #    above it, pushdown substitutes the whole gram lambda into the
    #    predicate and shoves it through the exchange to the scan —
    #    re-tokenizing inside every element_at.
    # 2. An exchange between tokenize and grams: CollapseProject would
    #    otherwise merge the two projections and inline the tokenize
    #    3× per gram element (no let-binding in Catalyst).
    # 3. An exchange ABOVE the grams: the gram transform is an
    #    interpreted higher-order function (~20 µs/gram), and every
    #    dedup operator consumes the shingle frame 2-3× (self-join
    #    sides, size/signature branches).  Materialising behind a
    #    shuffle makes all consumers hit one ReusedExchange, so the
    #    lambda runs once per document TOTAL, not once per consumer.
    staged = df.select(F.col(id_col).alias("doc"), toks.alias("_w"))
    if drop_short:
        staged = staged.where(F.size("_w") >= n)
    staged = staged.repartition(par)
    return staged.select(
        "doc", _ngrams_of(F.col("_w"), n).alias("shingles")
    ).repartition(par)


def _cap_doc_freq(sh: DataFrame, max_df: int | None) -> DataFrame:
    """Drop the rows of an exploded ``shingle`` frame whose shingle
    occurs in more than ``max_df`` rows (no-op when ``max_df`` is None)."""
    if max_df is None:
        return sh
    kept = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= max_df)
        .select("shingle")
    )
    return sh.join(kept, "shingle")


def _verify_jaccard(
    cand: DataFrame,
    first: tuple[str, DataFrame],
    second: tuple[str, DataFrame],
    threshold: float,
) -> DataFrame:
    """Exact Jaccard of candidate pairs: join each side's ``sets`` frame
    (its ``doc`` and ``shingles`` columns) onto ``cand`` on ``key``
    (``first``, then ``second``) and keep ``cand``'s columns + ``jac`` ≥
    threshold, sorted.

    shuffle_hash with the CANDIDATE side as build: candidates ≪ corpus
    (near-dup pairs), while the sets side carries every document's
    shingle array — broadcasting it would collect the corpus to the
    driver.  Hash join avoids even sorting the big side.  The hint
    binds the ``first`` join only: the planner picks the ``second``
    join's strategy from size estimates, and may broadcast that side's
    sets when they fit under the broadcast threshold.
    """
    verified = cand.hint("shuffle_hash")
    for i, (key, sets) in enumerate((first, second), 1):
        verified = verified.join(
            sets.select(
                F.col("doc").alias(key), F.col("shingles").alias(f"_sh{i}")
            ),
            key,
        )
    inter = F.size(F.array_intersect("_sh1", "_sh2"))
    union = F.size("_sh1") + F.size("_sh2") - inter
    return (
        verified.select(*cand.columns, (inter / union).alias("jac"))
        .where(F.col("jac") >= threshold)
        .orderBy(*cand.columns)
    )


# ---------------------------------------------------------------------------
# Exact / fingerprint dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per duplicate group — ONE exchange.

    Deterministic survivor choice (min id), unlike ``dropDuplicates``
    whose survivor is partition-order-dependent — determinism matters
    when the dedup output feeds training data lineage.

    min/count over ``Window.partitionBy(key_cols)`` shuffles each row
    (and its possibly-large key, e.g. a document body) exactly once;
    the previous groupBy + join-back shape shuffled the payload twice.
    Window partitioning groups nulls together, matching eqNullSafe
    duplicate semantics.  Both aggregates share one Window node.
    """
    w = Window.partitionBy(*key_cols)
    return (
        df.withColumn("_keep_id", F.min(id_col).over(w))
        .withColumn("dup_cnt", F.count("*").over(w))
        .where(F.col(id_col) == F.col("_keep_id"))
        .drop("_keep_id")
    )


def dedup_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on the normalized md5 fingerprint."""
    from another_map_reduce_spark.operators.text_analysis import fingerprint

    with_fp = df.withColumn("fp", fingerprint(F.col(text_col)))
    return dedup_exact(with_fp, ["fp"], id_col)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (ground truth)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """All pairs with word-n-gram Jaccard ≥ threshold — exact.

    shingle-explode → self-join on shingle → per-pair intersection
    count → |A∪B| = |A|+|B|−|A∩B|.  Integer counts make the Jaccard
    division bit-reproducible.

    ``max_df`` drops shingles present in more than that many docs
    before the join (scale guard; slightly *underestimates* Jaccard
    for pairs sharing only frequent shingles).
    """
    sh = shingle_docs(df, text_col, id_col, n).select(
        "doc", F.explode("shingles").alias("shingle")
    )
    sh = _cap_doc_freq(sh, max_df)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    # merge hint: the build side is the CORPUS shingle set — Catalyst's
    # post-aggregate size estimate undershoots and broadcasts it
    # (driver collect of every shingle: ~14 s at sf0.1, fatal at any
    # real scale).  Sort-merge shuffles both sides by shingle key.
    b = sh.hint("merge").alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .agg(F.count("*").alias("inter"))
    )
    s1 = sizes.select(F.col("doc").alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc").alias("d2"), F.col("sz").alias("sz2"))
    jac = F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter"))
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .select("d1", "d2", jac.alias("jac"))
        .where(F.col("jac") >= threshold)
        .orderBy("d1", "d2")
    )


def containment_pairs(
    history: DataFrame,
    delta: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: (new_doc, src_doc, containment) where
    containment = |S(new) ∩ S(src)| / |S(new)| ≥ threshold — every new
    document that is (mostly) CONTAINED in a history document.

    This is the dedup axis Jaccard cannot see: a 200-word excerpt
    quoted inside a 20k-word history page has Jaccard ≈ 0.01 but
    containment ≈ 1.0, and excerpt/boilerplate reuse is exactly what
    an ingest pipeline must catch (Broder's containment measure, the
    companion to resemblance).  Same integer-ratio reproducibility
    contract as ``ngram_jaccard_pairs``: intersection and size are
    exact counts, so the division hashes identically cross-engine.

    Scale shape: inverted-index equi-join on shingle between the
    (small) delta and history — the delta side bounds every join
    group, so unlike the Jaccard SELF-join there is no Σdf² term in
    the carried rows, only Σ(df_hist × df_delta); ``max_df`` caps
    hot boilerplate shingles on the history side (underestimates
    containment for pairs sharing only capped shingles, same
    declared bias as the Jaccard guard).
    """
    dsh = shingle_docs(delta, text_col, id_col, n).select(
        F.col("doc").alias("new_doc"), F.explode("shingles").alias("shingle")
    )
    hsh = shingle_docs(history, text_col, id_col, n).select(
        F.col("doc").alias("src_doc"), F.explode("shingles").alias("shingle")
    )
    return containment_from_shingles(dsh, hsh, threshold, max_df)


def containment_from_shingles(
    dsh: DataFrame,
    hsh: DataFrame,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Containment core over pre-built shingle frames — ``dsh`` as
    (new_doc, shingle), ``hsh`` as (src_doc, shingle).

    Split out so a caller whose delta and history come from ONE parent
    table can shingle that table once and filter (the minhash/triangle
    dag-sharing lesson): ``containment_pairs`` tokenizes each side
    separately because its inputs are arbitrary DataFrames.
    """
    hsh = _cap_doc_freq(hsh, max_df)
    dsizes = dsh.groupBy("new_doc").agg(F.count("*").alias("sz_new"))
    # history side as the sort-merge partner: the post-aggregate size
    # estimate undershoots exactly as in ngram_jaccard_pairs, and a
    # broadcast of the CORPUS shingle set must never happen.
    inter = (
        dsh.join(hsh.hint("merge"), "shingle")
        .groupBy("new_doc", "src_doc")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(dsizes, "new_doc")
        .select(
            "new_doc",
            "src_doc",
            (F.col("inter") / F.col("sz_new")).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
        .orderBy("new_doc", "src_doc")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All pairs with word-n-gram Jaccard ≥ threshold via PREFIX
    FILTERING — EXACT like ``ngram_jaccard_pairs`` but with the
    candidate join pruned to each document's rarest shingles
    (Chaudhuri/Ganti/Kaushik 2006 SSJoin, Xiao et al. 2008 PPJoin —
    public papers; this is the "-lite" core: prefix filter only, no
    positional/suffix filters).

    Construction: one global document-frequency aggregate orders every
    document's shingle set rarest-first (ties broken by the shingle
    string so the order is total and deterministic); a pair at
    jac ≥ t must share at least one shingle inside BOTH prefixes of
    length |x| − ⌈t·|x|⌉ + 1 (jac ≥ t ⇒ |x∩y| ≥ t·max(|x|,|y|), and a
    prefix that long cannot avoid the intersection), so the candidate
    join explodes only prefixes — at t = 0.8 that is ~20% of shingle
    rows, and the rarest-first order makes the surviving join keys the
    LOW-df shingles, killing the Σdf² hot-key term that forces max_df
    compromises on the full inverted-index join.  Candidates are then
    exact-verified on the full sets.

    vs the suite's other scale paths: MinHash-LSH is probabilistic
    (miss probability ≈ 0 but nonzero) with fixed O(k) signature cost;
    prefix filtering is EXACT with data-dependent pruning — the right
    choice when a guaranteed-complete pair list is a hard requirement.
    Cost: the df aggregate is one extra corpus-scale shuffle, and the
    per-doc rarest-first sort is O(|x| log |x|) in a column expression.
    """
    # Three consumers (df aggregate via explode, both verify sides)
    # already share the shingle work through shingle_docs's staged
    # exchange (ReusedExchange) — a localCheckpoint here was measured
    # SLOWER (6.7 vs 5.3 s at sf0.1): the materialization cost exceeds
    # the saved recompute, unlike the minhash path where the shared
    # frame carries 128-hash signatures.
    sh = shingle_docs(df, text_col, id_col, n)
    exploded = sh.select("doc", F.explode("shingles").alias("shingle"))
    dfreq = exploded.groupBy("shingle").agg(
        F.count("*").alias("df")
    )
    # rarest-first total order per doc: sort (df, shingle) structs —
    # array_sort on structs orders by fields left-to-right
    ordered = (
        exploded.join(dfreq, "shingle")
        .groupBy("doc")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("df", "shingle"))
            ).alias("ord")
        )
    )
    sz = F.size("ord")
    plen = sz - F.ceil(F.lit(threshold) * sz).cast("int") + 1
    prefix = ordered.select(
        "doc",
        F.explode(
            F.transform(
                F.slice("ord", 1, plen), lambda s: s["shingle"]
            )
        ).alias("shingle"),
    )
    a = prefix.alias("a")
    # corpus-scale on both sides — merge join, never broadcast
    b = prefix.hint("merge").alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .dropDuplicates(["d1", "d2"])
    )
    return _verify_jaccard(cand, ("d1", sh), ("d2", sh), threshold)


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------


def minhash_signature(shingles: Column, k: int = 128) -> Column:
    """k-wide MinHash signature from k INDEPENDENT hash draws.

    mh[i] = min over shingles of xxhash64(xxhash64(shingle), i): the
    shingle is hashed to a long once, then each slot re-mixes that
    long with its slot index — fixed-width inputs, so the k draws cost
    k short hashes instead of k string hashes.

    Independence matters: the Carter-Wegman h1 + i·h2 shortcut (2
    hashes per shingle) makes the k slots pairwise- but not mutually
    independent, and empirically a pair at jaccard 0.90 was missed by
    16-band LSH at BOTH sf0.01 and sf0.1 despite a theoretical miss
    probability of ~1e-4 — the correlated slots fatten the S-curve's
    tail by orders of magnitude.  With independent draws the banding
    math holds exactly and capture at the operating point is certain
    (see minhash_lsh_pairs).  Pure fold over the shingle array — no
    shuffle, no UDF.
    """
    seeds = F.sequence(F.lit(0), F.lit(k - 1))
    hashed = F.transform(shingles, lambda s: F.xxhash64(s))
    return F.aggregate(
        hashed,
        F.array_repeat(F.lit(LONG_MAX), k),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(seeds, lambda i: F.xxhash64(h, i)),
            lambda x, y: F.least(x, y),
        ),
    )


def _signature_frame(
    df: DataFrame, n: int, k: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc, shingles, mh) — each document's shingle set and k-slot
    MinHash signature, materialised behind a repartition barrier: the
    banding slices "mh" once per band, and without materialisation
    Catalyst's collapsed projection would re-run the whole fold ×bands
    (no let-binding)."""
    return (
        shingle_docs(df, text_col, id_col, n)
        .withColumn("mh", minhash_signature(F.col("shingles"), k))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )


def bands_from_signature(
    sig: DataFrame, k: int = 128, bands: int = 32, doc_col: str = "doc"
) -> DataFrame:
    """(doc, band, sig) band keys from a ``(doc, mh)`` signature frame.

    The one banding step of every LSH operator (MinHash pairs, the
    stored band index and its delta probe, sign-LSH cosine pairs):
    hash each k/bands-slot slice of the ``mh`` array into one band
    key.  Pure projection — adds no exchange of its own.  Rejects a
    banding that would drop signature slots or hash empty slices (every
    document would then share every band key: a silent all-pairs join).
    """
    if bands < 1 or k < bands or k % bands:
        raise ValueError(
            f"rows per band = k // bands must be a positive integer with no "
            f"remainder; got k={k} signature slots over bands={bands}"
        )
    r = k // bands
    return sig.select(
        doc_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.hash(F.slice(F.col("mh"), j * r + 1, r)).alias("sig"),
                    )
                    for j in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(doc_col, "bk.band", "bk.sig")


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    k: int = 128,
    bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard.

    rows-per-band r = k/bands; with independent slot hashes the
    candidate capture probability for a pair at Jaccard s is exactly
    1-(1-s^r)^b — k=128, b=32, r=4 puts the S-curve midpoint at ≈0.38,
    so a pair at s=0.8 is missed w.p. (1-0.8⁴)^32 ≈ 4.7e-8 and at s=0.9
    w.p. 1.5e-15, while the all-pairs join is avoided entirely:
    candidates come from |bands| equi-joins on (band, band_hash), each
    touching only docs that collide (measured 200 candidates out of
    12.5M possible pairs at sf0.01).  Output: (d1, d2, jac) — equal to
    the exact operator's output at any threshold ≥ 0.8 with
    probability ≈ 1, which is why the driver oracle for
    ``dedup_minhash_lsh`` is the exact-Jaccard SQL.
    """
    sig = _signature_frame(df, n, k, text_col, id_col)
    # Band join carries ONLY (doc, band, sig): exploding the shingle
    # sets through the ×bands duplication would replicate the corpus
    # payload ×16 through the shuffle.  Shingles are joined back once
    # per side AFTER candidate dedup, so each document's set moves
    # exactly twice regardless of band count.
    banded = bands_from_signature(sig, k, bands)

    a = banded.alias("a")
    # shuffle_hash hint: both sides are corpus-scale (N·bands rows) —
    # never broadcastable at real scale (static size estimates
    # undershoot and would collect the banded corpus to the driver);
    # hash beats merge here because band keys are near-unique, so
    # per-partition build maps stay tiny and both sorts are saved
    b = banded.hint("shuffle_hash").alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .dropDuplicates(["d1", "d2"])
    )
    return _verify_jaccard(cand, ("d1", sig), ("d2", sig), threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def md5_long_halves(s: Column) -> tuple[Column, Column]:
    """(lo32, hi32) of the 64-bit integer DuckDB calls
    ``md5_number_lower``: the little-endian reading of the LAST eight
    digest bytes (verified bit-identical across engines).

    Two 32-bit halves instead of one assembled long: every consumer
    here wants individual bits, and 32-bit values stay comfortably
    inside BIGINT for ``conv``'s string→long cast (a full 64-bit
    unsigned value would overflow it).  Byte order: hex pair 17+2j is
    byte j (least significant first), so each half concatenates its
    four pairs most-significant-first before the base-16 parse.
    """
    m = F.md5(s)

    def rev32(start: int) -> Column:
        return F.conv(
            F.concat(
                F.substring(m, start + 6, 2),
                F.substring(m, start + 4, 2),
                F.substring(m, start + 2, 2),
                F.substring(m, start, 2),
            ),
            16,
            10,
        ).cast("long")

    return rev32(17), rev32(25)


def simhash64(shingles: Column) -> Column:
    """64-bit SimHash of a shingle set.

    Classic Charikar construction: each shingle's xxhash64 votes ±1
    per bit position; the sign of each accumulated position is the
    output bit.  Fold + zip_with keeps it a single pass, JVM-side.
    Bit positions are unrolled with Python ints (shiftright/shiftleft
    take literal shift amounts, not Columns).
    """

    def bit_votes(s: Column) -> Column:
        h = F.xxhash64(s)
        return F.array(
            *[
                F.when(F.shiftright(h, i).bitwiseAND(1) == 1, 1).otherwise(-1)
                for i in range(64)
            ]
        )

    votes = F.aggregate(
        shingles,
        F.array_repeat(F.lit(0), 64),
        lambda acc, s: F.zip_with(acc, bit_votes(s), lambda x, y: x + y),
    )
    # bit i set iff votes[i] > 0; bit 63 is the sign bit of the long
    bitvals = F.array(
        *[
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
            for i in range(64)
        ]
    )
    # single zip_with fold so `votes` (a full aggregate) appears once
    return F.aggregate(
        F.zip_with(
            votes,
            bitvals,
            lambda v, bv: F.when(v > 0, bv).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )




def check_pigeonhole_radius(max_hamming: int) -> None:
    """Shared by every 4×16-chunk consumer (SimHash text dedup,
    perceptual-hash media dedup): the blocking is exact only for
    hamming ≤ 3."""
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 4x16-bit pigeonhole "
            "guarantee (exact only for hamming <= 3); use more/narrower "
            "chunks for larger radii"
        )


def _check_simhash_args(max_hamming: int, hasher: str) -> None:
    check_pigeonhole_radius(max_hamming)
    if hasher not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hasher {hasher!r}")


def simhash_frame(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "xxhash64",
) -> DataFrame:
    """(doc, sh) — each document's 64-bit SimHash (the per-doc half of
    ``simhash_pairs``, split out so the incremental path can hash ONLY
    a delta batch).  Validates ``hasher`` itself: a typo silently
    falling through to the md5 branch would persist an index whose
    chunk keys can never match a correctly-spelled probe.
    """
    if hasher not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hasher {hasher!r}")
    docs = shingle_docs(df, text_col, id_col, n)

    # Votes via explode + 64 conditional-sum aggregates (whole-stage
    # codegen + map-side combine) instead of the interpreted HOF fold —
    # same construction as simhash64, ~5× faster; see minhash above.
    exploded = docs.select("doc", F.explode("shingles").alias("s"))
    if hasher == "xxhash64":
        h = F.xxhash64("s")

        def bit(i: int) -> Column:
            return F.shiftright(h, i).bitwiseAND(1)

        hashed_rows = exploded
    else:
        lo, hi = md5_long_halves(F.col("s"))
        # The exchange is load-bearing: without it the optimizer
        # substitutes the md5/conv expressions into all 32 aggregate
        # expressions below (no CSE across aggregate functions —
        # measured 5× slower at sf0.1); behind a shuffle the agg reads
        # two materialised longs per row.
        hashed_rows = exploded.select(
            "doc", lo.alias("_lo"), hi.alias("_hi")
        ).repartition(df.sparkSession.sparkContext.defaultParallelism)

        def bit(i: int) -> Column:
            half = F.col("_lo") if i < 32 else F.col("_hi")
            return F.shiftright(half, i % 32).bitwiseAND(1)

    # SIMD-in-a-word vote counting: pack two 32-bit ones-counters per
    # long, so the aggregate keeps 33 buffers instead of 65 and each
    # row contributes arithmetic (shift-and-add) instead of 64
    # conditionals — measured 4.2× faster than per-bit conditional
    # sums at sf0.01.  Safe while a doc has < 2³² shingles (lane
    # carry); vote_i = 2·ones_i − n recovers the ±1 tally exactly.
    packed = hashed_rows.groupBy("doc").agg(
        F.count("*").alias("_n"),
        *[
            F.sum(
                bit(2 * j).cast("long")
                + F.shiftleft(bit(2 * j + 1).cast("long"), 32)
            ).alias(f"_p{j}")
            for j in range(32)
        ],
    )

    def ones(i: int) -> Column:
        p = F.col(f"_p{i // 2}")
        lane = F.shiftright(p, 32) if i % 2 else p
        return lane.bitwiseAND(0xFFFFFFFF)

    # bit i set iff vote_i > 0 iff 2·ones_i > n
    bit_terms = [
        F.when(
            ones(i) * 2 > F.col("_n"),
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(64)
    ]
    votes = packed
    sh_col = bit_terms[0]
    for t in bit_terms[1:]:
        sh_col = sh_col + t
    hashed = votes.select("doc", sh_col.alias("sh"))
    return hashed


def simhash_chunks(hashed: DataFrame) -> DataFrame:
    """(doc, sh, idx, chunk) — the 4x16-bit pigeonhole block keys of a
    (doc, sh) frame: the PERSISTABLE SimHash index (4 small rows per
    document carrying the full hash, so candidate verification needs
    no corpus access at all — bit_count(xor) on stored values)."""
    return hashed.select(
        "doc",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("idx"),
                        F.shiftright(F.col("sh"), j * 16)
                        .bitwiseAND(0xFFFF)
                        .alias("chunk"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc", "sh", "c.idx", "c.chunk")


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Pigeonhole blocking: split the 64-bit hash into 4 chunks of 16;
    any pair at distance ≤ 3 agrees on ≥ 1 chunk, so candidates are
    4 equi-joins on (chunk_idx, chunk_value) instead of all-pairs.
    Exact when max_hamming ≤ 3 (no false negatives, verified distance);
    a larger ``max_hamming`` would silently drop true pairs the 4-chunk
    scheme can't capture, so it is rejected.

    ``hasher`` picks the per-shingle 64-bit hash: ``"xxhash64"`` (the
    fast default) or ``"md5"`` (``md5_long_halves`` — DuckDB can
    recompute it via ``md5_number_lower``, making the whole operator
    cross-engine verifiable; both are uniform, so near-dup quality is
    identical and the only cost is md5 vs xxhash per shingle).
    """
    _check_simhash_args(max_hamming, hasher)
    hashed = simhash_frame(df, n, text_col, id_col, hasher)
    chunked = simhash_chunks(hashed)
    a = chunked.alias("a")
    # merge hint: the chunked frame is corpus-scale (4 rows/doc) —
    # same never-broadcast rule as the minhash band join
    b = chunked.hint("merge").alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(
            b,
            (F.col("a.idx") == F.col("b.idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("d1"),
            F.col("b.doc").alias("d2"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["d1", "d2"])
        .where(F.col("hamming") <= max_hamming)
        .orderBy("d1", "d2")
    )


def incremental_simhash_pairs(
    delta: DataFrame,
    index: DataFrame,
    max_hamming: int = 3,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "xxhash64",
) -> DataFrame:
    """Near-dups of a NEW batch against a STORED SimHash index
    (``simhash_chunks`` rows persisted to parquet) — the fourth stored
    -index axis beside MinHash bands, IVF cells, and shingle postings.

    Only the delta is shingled and hashed; its 4 chunk rows per doc
    broadcast against the index's (idx, chunk) keys, and — unlike the
    MinHash path — verification needs NO corpus access at all: the
    index rows carry the full 64-bit hash, so the exact hamming
    distance is ``bit_count(xor)`` on stored values.  The day's cost
    is O(delta + index scan), with the same ≤3-hamming pigeonhole
    capture guarantee as ``simhash_pairs``.  Output: (new_doc,
    dup_of, hamming ≤ max_hamming).
    """
    _check_simhash_args(max_hamming, hasher)
    dch = simhash_chunks(
        simhash_frame(delta, n, text_col, id_col, hasher)
    ).select(
        F.col("doc").alias("new_doc"),
        F.col("sh").alias("sh_new"),
        "idx",
        "chunk",
    )
    hamming = F.bit_count(F.col("sh").bitwiseXOR(F.col("sh_new")))
    return (
        index.join(F.broadcast(dch), ["idx", "chunk"])
        # self-guard: a replayed batch whose docs are ALREADY in the
        # stored index (crash-restart after append) would otherwise
        # report every doc as a hamming-0 dup of itself
        .where(F.col("doc") != F.col("new_doc"))
        .select(
            "new_doc", F.col("doc").alias("dup_of"), hamming.alias("hamming")
        )
        .dropDuplicates(["new_doc", "dup_of"])
        .where(F.col("hamming") <= max_hamming)
        .orderBy("new_doc", "dup_of")
    )


# ---------------------------------------------------------------------------
# FastSS edit-distance-1 fuzzy matching (deletion-neighborhood blocking)
# ---------------------------------------------------------------------------


def deletion_keys(w: Column) -> Column:
    """The FastSS distance-1 blocking set of a string: the string
    itself plus every single-character deletion (Bocek et al. 2007,
    "Fast Similarity Search in Large Dictionaries" — public).  Two
    strings within Levenshtein distance 1 ALWAYS share a key
    (substitution → delete the differing position from both;
    insert/delete → the shorter string IS a deletion of the longer;
    equality → the string itself), so blocking on these keys is a
    complete candidate generator.  It over-generates — "ab"/"ba"
    share keys at distance 2 — which is why callers verify with
    exact ``levenshtein`` after the block join: the suite's standard
    sketch-then-verify contract.  Pure column expression (transform
    over a position sequence), no UDF.
    """
    dels = F.transform(
        F.sequence(F.lit(1), F.length(w)),
        lambda i: F.concat(
            F.substr(w, F.lit(1), i - F.lit(1)), F.substr(w, i + F.lit(1))
        ),
    )
    return F.array_union(F.array(w), dels)


def lev1_pairs(vocab: DataFrame, word_col: str = "w") -> DataFrame:
    """All unordered pairs of distinct vocabulary strings within
    Levenshtein distance 1, via deletion-neighborhood blocking + exact
    verify — O(Σ|w|) keys and bounded key-group joins instead of the
    O(V²) all-pairs scan the DuckDB oracle runs.

    Scale shape: each word emits |w|+1 keys; candidates meet only
    inside a shared key's group (group size is bounded by alphabet
    size × near-identical strings, not vocabulary size), then
    ``levenshtein`` confirms.  dropDuplicates collapses the multiple
    shared keys of a true pair before the verify so each candidate is
    scored once.  At 100 TB vocabularies the key join is the only
    exchange and it carries (key, word) — no quadratic stage exists.
    """
    v = vocab.select(F.col(word_col).alias("w")).where(
        F.col("w").isNotNull()
    ).distinct()
    keyed = v.select(
        "w", F.explode(deletion_keys(F.col("w"))).alias("k")
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, "k")
        .where(F.col("a.w") < F.col("b.w"))
        .select(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .dropDuplicates(["w1", "w2"])
        .where(F.levenshtein("w1", "w2") <= 1)
    )


# ---------------------------------------------------------------------------
# Incremental MinHash: persisted LSH index ⋈ daily delta
# ---------------------------------------------------------------------------


def lsh_band_index(
    df: DataFrame,
    n: int = 3,
    k: int = 128,
    bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(doc, band, sig)`` rows — the PERSISTABLE LSH index of a
    corpus (|bands| small rows per document, no text, no shingles).

    This is what makes dedup affordable as a corpus grows: build the
    index once per historical partition, store it (parquet, ideally
    bucketed by (band, sig)), and every new batch joins against it
    instead of re-banding 100 TB of history.  Same signature/banding
    construction as ``minhash_lsh_pairs`` (independent slot hashes,
    k/bands rows per band), so capture probabilities carry over.
    """
    return bands_from_signature(
        _signature_frame(df, n, k, text_col, id_col), k, bands
    )


def lsh_append_docs(
    df: DataFrame,
    path: str,
    n: int = 3,
    k: int = 128,
    bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """APPEND a day's documents to a stored LSH band index — the
    maintenance half of the index lifecycle (`lsh_band_index` builds
    the initial artifact; this adds each day's accepted batch in
    O(delta)).

    The band index is append-only BY CONSTRUCTION: a document's
    |bands| (doc, band, sig) rows are a pure function of its own text
    (independent slot hashes, no corpus statistics), so appending new
    rows is exactly what a monolithic rebuild would produce for the
    union — no rewrite of existing rows, no retraining, one new file
    per append (append ≡ rebuild is oracle-proven by
    dedup_lsh_append's hash row and pinned in tests/test_dedup.py).
    Same parameters as the original build or the band keys won't align
    — keep them in the artifact fingerprint.  The write lands in the
    index's LIVE generation (storeops.resolve_table), so appends keep
    working after any number of pointer-committed compactions.
    """
    from another_map_reduce_spark.storeops import resolve_table

    lsh_band_index(df, n=n, k=k, bands=bands, text_col=text_col,
                   id_col=id_col).write.mode("append").parquet(
        resolve_table(path)
    )


def read_lsh_index(spark: SparkSession, path: str) -> DataFrame:
    """Live rows of a stored LSH band index: the pointer-named
    generation (legacy un-pointered layout when none), minus any
    tombstoned docs (broadcast anti-join — the takedown set is tiny
    next to the index).  Every probe goes through here so a deleted
    document stops matching IMMEDIATELY, before any compaction."""
    from another_map_reduce_spark.storeops import read_table

    return read_table(spark, path, id_col="doc")


def lsh_delete_docs(path: str, doc_ids: DataFrame) -> None:
    """DELETE documents from a stored LSH band index (takedowns,
    opt-outs, retention windows — the obligation any persisted 100 TB
    corpus index carries).  Logical delete: the ids land in the index's
    tombstone set (append-only, one row per id) and every
    ``read_lsh_index`` probe anti-joins them; the next
    ``lsh_compact_index`` excises the rows physically and clears the
    set.  delete+compact ≡ rebuild-from-survivors is oracle-proven by
    dedup_lsh_delete's hash row and pytest-pinned.  ``doc_ids`` must
    expose the ids in a column named ``doc`` (the index's id column).
    """
    from another_map_reduce_spark.storeops import append_tombstones

    append_tombstones(doc_ids, path, "doc")


def lsh_compact_index(
    spark: SparkSession, path: str, target_files: int | None = None
) -> None:
    """COMPACT a stored LSH band index back to ``target_files``
    parquet files (default: the session's parallelism) — the OPTIMIZE
    step of the index lifecycle, the dedup twin of
    ``ivf_compact_cells``: daily ``lsh_append_docs`` calls add one
    small file per day, and after many days the probe's file-open and
    footer-read overhead erodes the index's whole point (an
    O(delta)-cost daily join).  Tombstoned docs are physically excised
    during the rewrite (and the tombstone set cleared); absent
    deletes, compaction is LAYOUT-ONLY: same rows, sorted within
    partitions by (band, sig) so probe-side row-group skipping on the
    join keys survives the rewrite.

    Commit is the MANIFEST/POINTER scheme (storeops.compact_table):
    the new generation is written completely, one small pointer file
    flips atomically, stale generations are GC'd — no crash point
    leaves a reader without a complete index (kill-point pytest in
    tests/test_dedup.py), and the single-key flip translates directly
    to object stores (conditional PUT), unlike a directory rename.
    """
    from another_map_reduce_spark.storeops import compact_table

    n_files = target_files or spark.sparkContext.defaultParallelism

    def _write(df: DataFrame, dest: str) -> None:
        (
            df.repartition(n_files, "band", "sig")
            .sortWithinPartitions("band", "sig")
            .write.mode("overwrite")
            .parquet(dest)
        )

    compact_table(spark, path, id_col="doc", write_fn=_write)


def incremental_minhash_pairs(
    history: DataFrame,
    delta: DataFrame,
    index: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    k: int = 128,
    bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dups of a NEW batch against an EXISTING corpus, via the
    stored index: band the delta (small), broadcast it against the
    history's ``lsh_band_index`` rows, exact-verify the candidates.
    Output: (new_doc, dup_of, jac ≥ threshold) — every history document
    each new document duplicates.

    The asymmetry is the point: history is touched only through its
    |bands|-rows-per-doc index scan plus a candidate-bounded shingle
    lookup — never re-shingled, never re-shuffled.  The broadcast is
    correct for the daily-increment regime (delta ≪ history); if a
    backfill delta outgrows the broadcast threshold, drop the hint and
    the same plan degrades to a shuffle join on (band, sig), still
    index-reusing.

    The delta's (shingles, signature) frame is materialised ONCE
    (lazy localCheckpoint) and shared by its two consumers — the band
    keys broadcast into the index join and the shingle sets broadcast
    into the verify join.  Without it each broadcast re-ran the
    delta's scan → shingle → 128-hash pipeline from scratch, which is
    what made this the widest plan in the suite (30 exchanges; the
    same dag-sharing fix that took triangle counting 50 → 15).
    """
    dsig = _signature_frame(delta, n, k, text_col, id_col).localCheckpoint(
        eager=False
    )
    dband = bands_from_signature(dsig, k, bands).withColumnRenamed(
        "doc", "new_doc"
    )
    cand = (
        index.join(F.broadcast(dband), ["band", "sig"])
        # self-guard: a replayed batch already present in the stored
        # index (crash-restart after an append) must not report every
        # doc as a jaccard-1 dup of itself
        .where(F.col("doc") != F.col("new_doc"))
        .select("new_doc", F.col("doc").alias("dup_of"))
        .dropDuplicates(["new_doc", "dup_of"])
    )
    # Verify shingles ONLY the candidate history docs: the distinct
    # dup_of set is candidate-bounded (≈ true near-dups), so it
    # broadcasts, and the semi join prunes history to those docs
    # BEFORE the shingle projection — the day's verify cost is
    # O(candidates), not O(history).  (History is still scanned once
    # for the filter — scan + broadcast-hash filter, no shuffle; a
    # doc-store point lookup is the sub-scan alternative.)
    cand_docs = history.join(
        F.broadcast(
            cand.select(F.col("dup_of").alias(id_col)).distinct()
        ),
        id_col,
        "leftsemi",
    )
    hsh = shingle_docs(cand_docs, text_col, id_col, n)
    # History join first: joining the broadcast delta first would carry
    # its shingle arrays through the history join's candidate shuffle.
    return _verify_jaccard(
        cand,
        ("dup_of", hsh),
        ("new_doc", F.broadcast(dsig)),
        threshold,
    )


# ---------------------------------------------------------------------------
# DELETE / tombstone support for the remaining stored dedup indexes
# ---------------------------------------------------------------------------
#
# Takedowns, opt-outs, and retention windows are a standing obligation
# for any persisted index over a 100 TB corpus: a deleted document must
# stop matching probes IMMEDIATELY (logical delete — tombstone
# anti-join) and disappear physically at the next compaction, with
# delete+compact ≡ rebuild-from-survivors provable.  The LSH band index
# has lsh_delete_docs / read_lsh_index / lsh_compact_index above; these
# give the SimHash chunk index and the containment inverted postings
# the same lifecycle via the shared storeops layout (generation pointer
# + tombstone set).  [extension] — the reference persists no indexes.


def simhash_delete_docs(path: str, doc_ids: DataFrame) -> None:
    """DELETE documents from a stored SimHash chunk index
    (``simhash_chunks`` rows persisted to parquet).  Logical delete:
    ids land in the tombstone set; ``read_simhash_index`` probes drop
    them immediately; ``simhash_compact_index`` excises physically.
    ``doc_ids`` must expose the ids in a column named ``doc``."""
    from another_map_reduce_spark.storeops import append_tombstones

    append_tombstones(doc_ids, path, "doc")


def read_simhash_index(spark: SparkSession, path: str) -> DataFrame:
    """Live rows of a stored SimHash chunk index (pointer-resolved,
    tombstones anti-joined) — the probe-side reader every
    ``incremental_simhash_pairs`` caller should use."""
    from another_map_reduce_spark.storeops import read_table

    return read_table(spark, path, id_col="doc")


def simhash_compact_index(
    spark: SparkSession, path: str, target_files: int | None = None
) -> None:
    """COMPACT a stored SimHash chunk index: excise tombstoned docs,
    rewrite to ``target_files`` files sorted by (idx, chunk) so the
    probe's equi-join keys keep row-group skipping, commit via the
    manifest/pointer scheme (storeops.compact_table — same crash
    matrix as the LSH/IVF compactors)."""
    from another_map_reduce_spark.storeops import compact_table

    n_files = target_files or spark.sparkContext.defaultParallelism

    def _write(df: DataFrame, dest: str) -> None:
        (
            df.repartition(n_files, "idx", "chunk")
            .sortWithinPartitions("idx", "chunk")
            .write.mode("overwrite")
            .parquet(dest)
        )

    compact_table(spark, path, id_col="doc", write_fn=_write)


def postings_delete_docs(path: str, doc_ids: DataFrame) -> None:
    """DELETE source documents from a stored containment inverted index
    ((shingle, src_doc) postings).  Logical delete via the tombstone
    set; ``read_postings_index`` probes drop the doc immediately;
    ``postings_compact_index`` excises physically.  ``doc_ids`` must
    expose the ids in a column named ``src_doc``."""
    from another_map_reduce_spark.storeops import append_tombstones

    append_tombstones(doc_ids, path, "src_doc")


def read_postings_index(spark: SparkSession, path: str) -> DataFrame:
    """Live rows of a stored inverted postings index (pointer-resolved,
    tombstones anti-joined)."""
    from another_map_reduce_spark.storeops import read_table

    return read_table(spark, path, id_col="src_doc")


def postings_compact_index(spark: SparkSession, path: str) -> None:
    """COMPACT a stored inverted postings index: excise tombstoned
    docs, re-cluster on ``shingle`` (the probe's equi-join key), commit
    via the manifest/pointer scheme."""
    from another_map_reduce_spark.storeops import compact_table

    def _write(df: DataFrame, dest: str) -> None:
        (
            df.repartition("shingle")
            .write.mode("overwrite")
            .parquet(dest)
        )

    compact_table(spark, path, id_col="src_doc", write_fn=_write)
