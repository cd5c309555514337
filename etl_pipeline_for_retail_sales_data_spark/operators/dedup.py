"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash-LSH, SimHash.

Scale design (the whole point at 100 TB):
- Exact dedup = hash groupBy on a digest — one shuffle on the digest key,
  map-side partial agg collapses most duplicates before the exchange.
- N-gram Jaccard never does the O(n²) cross join: docs explode to DISTINCT
  shingles, a self-equi-join ON SHINGLE produces only co-occurring pairs,
  and intersection counts fall out of a groupBy — the classic
  inverted-index join. Shuffles are on shingle then (doc_a, doc_b).
- MinHash-LSH: k independent permutations approximated by min(md5(j:s));
  signatures band-hashed so candidate pairs come from equi-joins on band
  keys, never a cross join. All hashing is md5 hex (lexicographic min) so
  the DuckDB oracle can reproduce it verbatim — no engine-specific hash().
- SimHash: 64-bit signature from per-token hashes; near-dups = equal
  16-bit bands (hamming-adjacent candidates via 4 band joins).

Everything is built-in column expressions + higher-order array functions;
no Python UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..cachectl import finalize_iterative, scoped_cache
from ..functions import spread
from .graph import collect_capped
from .text import TOKEN_RE


def exact_dedup(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """DISTINCT on a projection — deterministic exact dedup (unlike
    dropDuplicates, which keeps an arbitrary full row per key)."""
    return df.select(*key_cols).distinct()


def doc_dedup_exact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-text dedup: group by md5(text); keep min(doc_id) as canonical,
    count duplicates. One shuffle on the 128-bit digest."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_copies"))
    )


def bloom_positions(digest_col, m_bits: int, k: int = 4):
    """``k`` PORTABLE Bloom-filter bit positions for a digest column —
    position i = md5("i:" || digest) folded to a long mod ``m_bits``.
    The same arithmetic is expressible verbatim in DuckDB
    (CAST('0x'||substring(md5(..),1,15) AS BIGINT) % m), so a Bloom
    membership DECISION — not just its invariants — replays exactly
    across engines. Returns an array<long> expression.

    Scale note: a Bloom dedup state stores ~k·n/ln2 DISTINCT set bits ≈
    10-15 BITS per document at 1% FP (vs ~50 BYTES for the digest
    table) — the space/recall dial for exact dedup at 100 TB: no false
    negatives ever (every true duplicate is caught); a tunable share of
    genuinely-novel docs is sacrificed as false positives."""
    return F.array(
        *[
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{i}:"), digest_col)), 1, 15),
                16,
                10,
            ).cast("long")
            % m_bits
            for i in range(k)
        ]
    )


def doc_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, distinct: bool = True
) -> DataFrame:
    """(doc_id, shingle) pairs — word n-grams per doc, DISTINCT by default
    (set semantics for Jaccard/MinHash; pass distinct=False for frequency
    counting). Tokens via regexp match (identical under Java regex and
    RE2); shingle = n consecutive tokens joined by a single space."""
    df = spread(df)  # small-file scans arrive as 1 partition (functions.spread)
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)
    # HOIST the token array into its own projection: referenced inside the
    # shingle lambda it would re-run the regexp tokenize PER SHINGLE
    # (winnowing_fingerprints lesson — lambda bodies re-evaluate captured
    # expressions per element; HOF array ARGUMENTS evaluate once)
    base = df.filter(F.size(toks) >= n).select("doc_id", toks.alias("__toks"))
    tcol = F.col("__toks")
    idx = F.sequence(F.lit(0), F.size(tcol) - n)  # 0-based start positions
    # slice+array_join is ~3.5x faster than an element_at chain (one array
    # copy per shingle vs n indexed lookups through the lambda interpreter)
    shingles = F.transform(idx, lambda i: F.array_join(F.slice(tcol, i + 1, n), " "))
    out = base.select("doc_id", F.explode(shingles).alias("shingle"))
    return out.distinct() if distinct else out


def doc_shingles_arrow(
    df: DataFrame, text_col: str = "text", n: int = 3, with_size: bool = False
) -> DataFrame:
    """DISTINCT (doc_id, shingle) rows computed per document in an Arrow
    batch — same output as ``doc_shingles(distinct=True)`` (asserted in
    tests) but the per-doc set replaces BOTH the interpreted
    transform/slice lambdas and the global ``.distinct()`` exchange:
    dedup needs no shuffle when it's within-document by construction.
    ``with_size=True`` additionally emits the doc's set size on every row
    (free here, saves a sizes join downstream). Null texts are dropped
    JVM-side before the kernel (a null document has no shingles — same
    outcome as the expression form, where size(null) fails the >= n
    filter)."""
    import re

    import pandas as pd

    pat = re.compile(r"[^ \t\n\x0b\f\r]+")  # ASCII expansion of Java \S

    def gen(batches):
        for pdf in batches:
            ids, shingles, sizes = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                toks = pat.findall(text.lower())
                uniq = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
                ids.extend([doc_id] * len(uniq))
                shingles.extend(uniq)
                if with_size:
                    sizes.extend([len(uniq)] * len(uniq))
            out = {"doc_id": ids, "shingle": shingles}
            if with_size:
                out["n_sh"] = sizes
            yield pd.DataFrame(out)

    schema = "doc_id long, shingle string" + (", n_sh long" if with_size else "")
    return spread(df).filter(F.col(text_col).isNotNull()).mapInPandas(gen, schema)


def doc_shingle_arrays(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, toks, n_sh): each document's SORTED distinct shingle
    array plus its size, built per document in one Arrow pass — no
    explode, no regroup shuffle. Same token/shingle definition as
    :func:`doc_shingles_arrow` (equality pinned in tests), so ``toks``
    equals ``array_sort(collect_list(shingle))`` over the exploded
    frame and ``n_sh`` equals the per-doc distinct count — without
    re-exploding and re-grouping a frame that existed only to be
    re-assembled (r12, guide §2.4: the ppjoin verify arrays were a
    full corpus regroup). Arrow, not JVM expressions: the
    transform/slice/array_join + array_distinct + array_sort chain runs
    through the interpreted HOF evaluator and measured ~30% SLOWER
    end-to-end than the Python set-build (the doc_shingles_arrow lesson
    repeated — r12 rejected variant, OPTIMIZATION_r12.md). Sorting:
    Python's str sort is code-point order == Spark's UTF8 binary order
    (UTF-8 is order-preserving), the repo-wide tiebreak argument."""
    import re

    import pandas as pd

    pat = re.compile(r"[^ \t\n\x0b\f\r]+")  # ASCII expansion of Java \S

    def gen(batches):
        for pdf in batches:
            ids, arrs, sizes = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                toks = pat.findall(text.lower())
                uniq = sorted(
                    {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
                )
                if uniq:
                    ids.append(doc_id)
                    arrs.append(uniq)
                    sizes.append(len(uniq))
            # explicit dtypes: an all-empty batch otherwise yields
            # float64 columns that Arrow cannot convert to list<string>
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "toks": pd.Series(arrs, dtype="object"),
                    "n_sh": pd.Series(sizes, dtype="int64"),
                }
            )

    return (
        spread(df)
        .filter(F.col(text_col).isNotNull())
        .mapInPandas(gen, "doc_id long, toks array<string>, n_sh long")
    )


def posting_pairs(
    postings: DataFrame,
    key: str,
    carry: list[str],
    *,
    max_df: int | None = None,
    hot_df: int | str | None = None,
    n_salts: int = 16,
    directed: bool = False,
) -> DataFrame:
    """The inverted-index self-join every pair family shares: one row per
    (doc pair, shared posting) from a ``(doc_id, key, *carry)`` postings
    frame, as ``(doc_a, doc_b, <c>_a, <c>_b for c in carry)``. Pairs are
    ``doc_a < doc_b``, or both orders (``doc_a != doc_b``) when
    ``directed``. Callers aggregate the rows per pair into their score;
    per-doc values the score needs (set sizes, norms, timestamps) ride
    ``carry`` so the pair frame never joins back to a per-doc frame.

    Plan shape. The postings are ``repartition(key)``-ed ONCE and every
    branch inherits that partitioning: the document frequency is a window
    count over it (no aggregate+join, no new exchange, and only added
    when ``max_df`` or ``hot_df`` needs it), and the self-join runs on
    the pre-partitioned sides. The join is A/B-aliased over one frame,
    so both sides prune to the same column set and AQE stage reuse reads
    the second side from the first side's shuffle: the postings stage
    (Arrow shingling, landmark decode, fingerprint hashing) computes once
    at runtime. Nothing is persisted; shuffle files are auto-cleaned
    (cachectl.py documents the discipline).

    ``max_df``: the hot-key cap. A key present in d documents contributes
    O(d²) pair rows, so keys with document frequency > max_df are dropped
    before the join. This undercounts shared postings (scores become
    lower bounds; carried sizes stay exact).

    ``hot_df``: the recall-lossless alternative to the cap. Keys with
    document frequency <= ``hot_df`` take the plain join; hotter keys take
    a salted skew join: the left side gets ONE salt
    (xxhash64(doc_id) % n_salts), the right side is replicated to ALL
    salts, and the join key becomes (key, salt). Every co-occurring pair
    still meets exactly once, but the worst per-reduce-key fan-out drops
    from d² to d²/n_salts. Both paths are exact, so the threshold only
    moves where the shuffle work lands. ``hot_df="p99"`` makes it
    adaptive (keys above the 99th percentile of document frequency go
    hot) at the cost of one bounded eager job at construction: the
    frame is checkpointed (``finalize_iterative``) so the percentile
    probe and the returned plan read one materialization. An integer keeps
    construction fully lazy."""
    from pyspark.sql import Window

    def side(frame, tag, *extra):
        return frame.select(
            F.col("doc_id").alias(f"doc_{tag}"),
            key,
            *[F.col(c).alias(f"{c}_{tag}") for c in carry],
            *extra,
        )

    def doc_order(a, b):
        return a != b if directed else a < b

    sh = postings.repartition(key)
    if max_df is not None or hot_df is not None:
        sh = sh.withColumn("__df", F.count("*").over(Window.partitionBy(key)))
    if max_df is not None:
        sh = sh.filter(F.col("__df") <= max_df)
    if hot_df == "p99":
        sh = finalize_iterative(sh)
        # exact percentile over the (small) per-key df frame; one scalar
        # to the driver. No postings → no keys → 0 threshold.
        dfreq = sh.groupBy(key).agg(F.first("__df").alias("__df"))
        row = dfreq.agg(F.expr("percentile(__df, 0.99)").alias("p")).collect()[0]
        hot_df = int(row["p"]) if row["p"] is not None else 0
    elif hot_df is not None and not isinstance(hot_df, int):
        raise ValueError(f"hot_df must be an int or 'p99', got {hot_df!r}")

    cold = sh if hot_df is None else sh.filter(F.col("__df") <= hot_df)
    a = cold.alias("A")
    b = cold.alias("B")
    pairs = (
        a.join(b, F.col(f"A.{key}") == F.col(f"B.{key}"))
        .filter(doc_order(F.col("A.doc_id"), F.col("B.doc_id")))
        .select(
            F.col("A.doc_id").alias("doc_a"),
            F.col("B.doc_id").alias("doc_b"),
            *[F.col(f"{t.upper()}.{c}").alias(f"{c}_{t}") for c in carry for t in "ab"],
        )
    )
    if hot_df is None:
        return pairs

    hot = sh.filter(F.col("__df") > hot_df)
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_salts)).cast("int")
    a_hot = side(hot, "a", salt.alias("salt"))
    all_salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    b_hot = side(hot, "b", all_salts.alias("salt"))
    hot_pairs = a_hot.join(b_hot, [key, "salt"]).filter(
        doc_order(F.col("doc_a"), F.col("doc_b"))
    )
    return pairs.unionByName(hot_pairs.select(*pairs.columns))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 256,
    hot_df: int | str = "p99",
    n_salts: int = 16,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all co-occurring doc pairs via
    the inverted-index self-join on shingle (:func:`posting_pairs`; no
    cross join anywhere). The per-doc set size rides along on every
    shingle row (computed locally in the Arrow pass), so the pair frame
    never joins back to a sizes frame.

    ``max_df``: the hot-shingle cap, ON by default (256) so direct
    callers are skew-safe. It undercounts intersections (Jaccard becomes
    a lower bound; sizes stay exact). ``max_df=None`` is the EXACT form:
    hot shingles (document frequency above ``hot_df``) take the salted
    skew join over ``n_salts`` reduce keys instead of being dropped, with
    identical output to the plain uncapped join. ``hot_df``/``n_salts``
    are ignored when ``max_df`` is set. The default ``hot_df="p99"`` runs
    one bounded eager Spark job at plan-construction time (the
    document-frequency percentile probe); pass an integer ``hot_df`` to
    keep construction fully lazy, or one no document frequency reaches
    to send every shingle down the plain join (SCALING.md)."""
    sh = doc_shingles_arrow(df, text_col, n, with_size=True)
    if max_df is not None:
        pairs = posting_pairs(sh, "shingle", ["n_sh"], max_df=max_df)
    else:
        pairs = posting_pairs(sh, "shingle", ["n_sh"], hot_df=hot_df, n_salts=n_salts)
    inter = pairs.groupBy(
        "doc_a", "doc_b", F.col("n_sh_a").alias("n_a"), F.col("n_sh_b").alias("n_b")
    ).agg(F.count("*").alias("n_inter"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.withColumn("jaccard", F.floor(jac * 1e6 + F.lit(0.5)) / 1e6)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = 256,
) -> DataFrame:
    """Asymmetric shingle-containment near-dup pairs:
    C(A→B) = |S_A ∩ S_B| / |S_A| — the subsumption detector Jaccard
    misses. A short quote fully embedded in a long article has tiny
    Jaccard (union is dominated by the article) but containment 1.0 from
    the quote's side; training-corpus builds drop the subsumed side
    (Broder's original resemblance/containment pair, syntactic-clustering
    of the web). Extension tier: the reference has no similarity ops
    (SURVEY.md §2).

    Same inverted-index join as :func:`ngram_jaccard_pairs`
    (:func:`posting_pairs`), but pairs are DIRECTED (doc_a != doc_b, both
    orders) because containment is asymmetric. ``max_df`` is the
    identical hot-shingle fan-out cap. The threshold compare happens on
    the 1e-6-floored value so Spark and the SQL oracle agree
    bit-for-bit."""
    sh = doc_shingles_arrow(df, text_col, n, with_size=True)
    inter = (
        posting_pairs(sh, "shingle", ["n_sh"], max_df=max_df, directed=True)
        .groupBy("doc_a", "doc_b", F.col("n_sh_a").alias("n_a"))
        .agg(F.count("*").alias("n_inter"))
    )
    cont = F.col("n_inter") / F.col("n_a")
    return (
        inter.withColumn("containment", F.floor(cont * 1e6 + F.lit(0.5)) / 1e6)
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "n_a", "containment")
    )


def minhash_signatures(df: DataFrame, text_col: str = "text", k: int = 16, n: int = 3) -> DataFrame:
    """K-permutation MinHash approximated portably: permutation j ranks a
    shingle by md5(j ':' shingle) and the signature component is the
    lexicographic MIN of those hex digests. One groupBy over exploded
    shingles computes all k components (k aggregates, single shuffle).
    MIN is idempotent over duplicates, so the shingle-dedup shuffle is
    skipped entirely (distinct=False) — one less exchange than the
    Jaccard path."""
    sh = doc_shingles(df, text_col, n, distinct=False)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"h{j}")
        for j in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures_arrow(
    df: DataFrame, text_col: str = "text", k: int = 16, n: int = 3
) -> DataFrame:
    """MinHash signatures computed per document inside an Arrow batch:
    tokens → shingle set → k md5 minima, all local to the worker — NO
    explode, NO sort-aggregate (min(string) can't hash-aggregate, so the
    expression form pays a per-partition sort), NO shuffle at all. Output
    is bit-identical to ``minhash_signatures`` (same md5 bytes, same
    lexicographic min — asserted in tests), so the DuckDB oracle for the
    downstream candidates query is unchanged. The token regex is the
    ASCII expansion of Java's ``\\S`` (Python's ``\\S`` is
    Unicode-aware; the engines agree on ASCII corpora — the JVM
    expression path remains the reference semantics)."""
    import hashlib
    import re

    import pandas as pd

    pat = re.compile(r"[^ \t\n\x0b\f\r]+")
    prefixes = [f"{j}:".encode() for j in range(k)]
    schema = "doc_id long, " + ", ".join(f"h{j} string" for j in range(k))

    def sign(batches):
        md5 = hashlib.md5
        for pdf in batches:
            ids, sigs = [], [[] for _ in range(k)]
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                if text is None:  # no content → no signature (JVM twin:
                    continue  # size(null tokens) fails the >= n filter)
                toks = pat.findall(text.lower())
                if len(toks) < n:
                    continue
                enc = {
                    " ".join(toks[i : i + n]).encode() for i in range(len(toks) - n + 1)
                }
                ids.append(doc_id)
                for j, pj in enumerate(prefixes):
                    # min over raw 16-byte digests == min over hex strings
                    # (hex is per-nibble monotone), so one .hex() per
                    # (doc, j) replaces one hexdigest per shingle
                    sigs[j].append(min(md5(pj + e).digest() for e in enc).hex())
            out = {"doc_id": ids}
            for j in range(k):
                out[f"h{j}"] = sigs[j]
            yield pd.DataFrame(out)

    return spread(df).mapInPandas(sign, schema)


def _minhash_band_structs(k: int, bands: int):
    """array<struct<band, bk>> over the h0..h{k-1} signature columns —
    band key = md5 of the '|'-joined band slice, the portable (DuckDB-
    replayable) banding every MinHash consumer shares."""
    rows_per_band = k // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)],
                    )
                ).alias("bk"),
            )
            for b in range(bands)
        ]
    )


def minhash_band_keys(
    df: DataFrame, text_col: str = "text", k: int = 16, bands: int = 4, n: int = 3
) -> DataFrame:
    """(doc_id, band, bk) rows — each document's LSH band keys, the
    compact fingerprint unit an INCREMENTAL near-dup state stores: a new
    document is a near-dup candidate of history iff any of its ``bands``
    keys already exists in the state table (plans/incremental_corpus.
    ingest_batch_neardup). Portable md5 banding end-to-end, so the whole
    incremental contract is DuckDB-replayable. Docs with < n tokens (or
    null text) produce no signature and therefore no rows."""
    sig = minhash_signatures_arrow(df, text_col, k, n)
    return sig.select("doc_id", F.explode(_minhash_band_structs(k, bands)).alias("s")).select(
        "doc_id", F.col("s.band").alias("band"), F.col("s.bk").alias("bk")
    )


def minhash_candidates(
    df: DataFrame, text_col: str = "text", k: int = 16, bands: int = 4, n: int = 3
) -> DataFrame:
    """LSH banding: signature split into ``bands`` bands of k/bands rows;
    band key = md5 of the concatenated band. Docs sharing ANY band key
    become candidate pairs (equi-join per band, distinct across bands);
    est_jaccard = fraction of equal signature components."""
    # The signature frame is expensive to build (shingling + k md5 mins),
    # so the FULL signature rides the band rows as one array column —
    # verification (component-equality count) happens inline on the band
    # join's output, which removes both verify joins, the distinct, and
    # any need to cache the signature frame (cachectl.py: reuse shuffle
    # files via ReuseExchange, never the storage pool). Payload cost: k
    # md5 hex strings per band row through one shuffle — bounded, and at
    # 100 TB the carry beats re-joining the corpus-sized signature frame
    # twice. Built via the Arrow path (bit-identical to the expression
    # form, no explode/sort/shuffle — see minhash_signatures_arrow).
    sig = minhash_signatures_arrow(df, text_col, k, n)
    band_structs = _minhash_band_structs(k, bands)
    # one explode + ONE self-equi-join on (band, key) replaces a join per
    # band: fewer stages, one shuffle for candidate generation; the
    # repartition makes both aliased sides inherit one reused exchange
    banded = (
        sig.select(
            "doc_id",
            F.array(*[F.col(f"h{j}") for j in range(k)]).alias("sig"),
            F.explode(band_structs).alias("s"),
        )
        .select("doc_id", "sig", F.col("s.band").alias("band"), F.col("s.bk").alias("bk"))
        .repartition("band", "bk")
    )
    left = banded.alias("A")
    right = banded.alias("B")
    matches = F.aggregate(
        F.zip_with(
            F.col("A.sig"),
            F.col("B.sig"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    pair_rows = (
        left.join(
            right,
            (F.col("A.band") == F.col("B.band")) & (F.col("A.bk") == F.col("B.bk")),
        )
        .filter(F.col("A.doc_id") < F.col("B.doc_id"))
        .select(
            F.col("A.doc_id").alias("doc_a"),
            F.col("B.doc_id").alias("doc_b"),
            matches.cast("long").alias("n_equal"),
        )
    )
    # a pair found in several bands carries the same n_equal each time —
    # the max is a pure dedupe (one pair-keyed shuffle, replacing the old
    # distinct + two signature re-joins)
    return (
        pair_rows.groupBy("doc_a", "doc_b")
        .agg(F.max("n_equal").alias("n_equal"))
        .select(
            "doc_a",
            "doc_b",
            "n_equal",
            (F.floor(F.col("n_equal") / F.lit(float(k)) * 1e6 + F.lit(0.5)) / 1e6).alias(
                "est_jaccard"
            ),
        )
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation: every node starts labeled with its own id; each
    round a node's label becomes the min of its own and its neighbors';
    fixpoint = component id = min node id in the component. Deterministic
    regardless of execution order (min is a semilattice), so the result is
    oracle-comparable (DuckDB recursive-CTE transitive closure).

    This is the dedup-pipeline step AFTER candidate generation: near-dup
    PAIRS (MinHash/SimHash/Jaccard output) become GROUPS, and
    min(component) picks the canonical document.

    Scale shape: each round is one equi-join of the label frame against
    the symmetrized edge list + one min-aggregation + the join back onto
    the labels. All are keyed on node id, but the checkpointed frames
    carry no partitioning, so every round shuffles the labels twice and
    the edge list once. Rounds needed = graph diameter (near-dup components are shallow —
    a handful). ONE action per round: the new label frame carries its
    own ``chg`` flag (did this node's label shrink?), so the
    convergence count both materializes the round's LAZY checkpoint and
    reads the fixpoint signal — no separate old-vs-new join job (which
    previously doubled the per-round job count).

    Small graphs skip the Spark rounds: when at most
    ``graph.CAP`` edges have both endpoints in ``nodes``, the driver
    collects them and runs the same rounds with ``np.minimum.at`` (same
    ``max_iter``, same stop when no label changes), so labels match the
    Spark loop even when ``max_iter`` cuts a long chain short. An edge
    with a null endpoint or one outside ``nodes`` moves no label on
    either path; a node it touches keeps its own id, like a singleton.
    The driver path persists nothing and returns ``nodes`` left-joined
    to a local label frame; the Spark path returns a reliable
    checkpoint.
    """
    rows = collect_capped(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .join(nodes.select(F.col(id_col).alias("u")), "u", "left_semi")
        .join(nodes.select(F.col(id_col).alias("v")), "v", "left_semi")
    )
    if rows is not None:
        return _components_local(nodes, id_col, rows, max_iter)

    with scoped_cache() as scope:
        sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionAll(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        sym = scope.local_ckpt(sym, eager=True)
        # iterate ONLY over edge-incident nodes: a node with no edges is
        # its own singleton component, can never change label, and
        # contributes nothing to any neighbor — so it is appended
        # analytically after the fixpoint instead of riding through every
        # round. Near-dup graphs are sparse; at corpus scale this iterates
        # over the candidate-pair members (sym's endpoints), not the
        # whole corpus.
        all_nodes = nodes.select(F.col(id_col).alias("node"))
        incident = all_nodes.join(
            sym.select(F.col("u").alias("node")), "node", "left_semi"
        )
        singletons = all_nodes.join(
            sym.select(F.col("u").alias("node")), "node", "left_anti"
        )
        labels = incident.select("node", F.col("node").alias("comp"))
        labels = scope.local_ckpt(labels, eager=True)
        for _ in range(max_iter):
            nb_min = (
                labels.join(sym, labels["node"] == sym["u"])
                .groupBy("v")
                .agg(F.min("comp").alias("nb_comp"))
            )
            new_comp = F.least(F.col("comp"), F.coalesce(F.col("nb_comp"), F.col("comp")))
            new_labels = (
                labels.join(nb_min, labels["node"] == nb_min["v"], "left")
                .select(
                    "node",
                    new_comp.alias("comp"),
                    # min-label only ever shrinks, so != is exactly "shrank"
                    (new_comp != F.col("comp")).alias("chg"),
                )
            )
            new_labels = scope.local_ckpt(new_labels, eager=False)
            # this count scans every partition of the lazy checkpoint, so
            # it materializes the round AND reads convergence in one job;
            # only after it returns may the parent frame be released
            changed = new_labels.filter("chg").count()
            scope.release(labels)
            labels = new_labels
            if changed == 0:
                break
        out = labels.select(F.col("node").alias(id_col), F.col("comp").alias("component_id"))
        out = out.unionAll(
            singletons.select(
                F.col("node").alias(id_col), F.col("node").alias("component_id")
            )
        )
        # the fixpoint goes to a RELIABLE checkpoint (disk files, no
        # storage-pool blocks) before the scope releases its checkpoints
        return finalize_iterative(out)


def _components_local(nodes: DataFrame, id_col: str, rows: list, max_iter: int) -> DataFrame:
    """connected_components' min-label rounds in numpy over the collected
    valid edges (either endpoint order: both directions propagate); codes
    are sorted like the ids, so min code = min id."""
    codes, ids = pd.factorize(np.array([r[0] for r in rows] + [r[1] for r in rows], dtype=object), sort=True)
    a, b = codes[: len(rows)], codes[len(rows):]
    u, v = np.concatenate([a, b]), np.concatenate([b, a])
    comp = np.arange(len(ids))
    for _ in range(max_iter):
        new = comp.copy()
        np.minimum.at(new, v, comp[u])
        changed = bool((new != comp).any())
        comp = new
        if not changed:
            break
    id_type = nodes.schema[id_col].dataType
    labels = nodes.sparkSession.createDataFrame(
        pd.DataFrame({id_col: ids, "__comp": ids[comp]}),
        StructType([StructField(id_col, id_type), StructField("__comp", id_type)]),
    )
    # every node outside the edge list is its own component
    return nodes.select(id_col).join(labels, id_col, "left").select(
        id_col, F.coalesce(F.col("__comp"), F.col(id_col)).alias("component_id")
    )


def simhash_candidates(
    df: DataFrame, text_col: str = "text", max_hamming: int = 8, n_bands: int = 4
) -> DataFrame:
    """SimHash near-dup pairs: the 64-bit signature splits into ``n_bands``
    16-bit bands; candidates come from band equi-joins (one explode + one
    self-join — no cartesian) and the exact hamming filter (bit_count of
    XOR) runs only on candidates.

    Recall contract (pigeonhole): a pair with hamming <= n_bands - 1 is
    GUARANTEED to share a clean band and be found. Pairs with
    n_bands <= hamming <= max_hamming are found only if their differing
    bits happen to cluster outside some band — probabilistic recall, like
    every banded LSH. Raise n_bands for a stronger guarantee at higher
    candidate cost. The 8-byte signature rides the band rows, so the
    hamming verify runs inline on the band join's output — no verify
    joins, no distinct, nothing cached (cachectl.py discipline)."""
    banded = _banded_simhash_pairs_input(
        simhash_64(df, text_col), "simhash", n_bands, bits_per_band=16
    )
    return _banded_hamming_pairs(banded, "simhash", max_hamming)


def simhash_64(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash: per-token hash = xxhash64 (JVM-side), signature bit
    i = sign of the sum over tokens of (2*bit_i - 1). Spark-native (
    xxhash64 has no portable SQL twin → rows-only correctness check +
    property tests). Bits are assembled with bit ops, no UDF."""
    df = spread(df)
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)
    tok = df.select("doc_id", F.explode(toks).alias("tok"))
    h = F.xxhash64("tok")
    bit_sums = [
        F.sum(F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"s{i}")
        for i in range(64)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_sums)
    sig = None
    for i in range(64):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << i).cast("long") if i < 63 else F.when(bit == 1, F.lit(-(1 << 63)).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return sums.select("doc_id", sig.alias("simhash"))


def canonical_dedup(
    docs: DataFrame,
    edges: DataFrame,
    ranks: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The full near-dup dedup decision: given candidate edges and a
    centrality score per document, group documents into components and
    keep exactly ONE canonical representative per component — the
    highest-centrality member (ties broken by min id, so the choice is
    total and deterministic). Non-keepers carry their keeper's id for
    provenance. This is the last step of the corpus-dedup pipeline:
    documents in → `{doc_id, component, is_keeper, keeper_id}` out; the
    downstream training set filters `is_keeper`.

    Scale shape: components via min-label propagation (see
    connected_components), then one window (rank over component) — both
    keyed on node/component ids. The ranks frame is a per-doc scalar
    (PageRank output or any quality score); no additional shuffle beyond
    the window's."""
    from pyspark.sql import Window

    comp = connected_components(edges, docs.select(id_col), id_col=id_col)
    scored = comp.join(ranks.select(id_col, "rank"), id_col, "left").withColumn(
        "rank", F.coalesce(F.col("rank"), F.lit(0.0))
    )
    w = Window.partitionBy("component_id").orderBy(F.desc("rank"), F.asc(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .withColumn("is_keeper", F.col("__rn") == 1)
        .withColumn(
            "keeper_id",
            F.first(F.col(id_col)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
        .select(
            id_col,
            F.col("component_id").alias("component"),
            "is_keeper",
            "keeper_id",
        )
    )


def simhash_md5(df: DataFrame, text_col: str = "text", bits: int = 60) -> DataFrame:
    """PORTABLE SimHash: per-token hash = first 15 hex digits of md5
    (60 bits — fits signed BIGINT on both engines), signature bit i =
    sign of the sum over tokens of (2*bit_i - 1). Unlike simhash_64
    (xxhash64, Spark-native, faster), every step here has an exact DuckDB
    twin, so the signature is fully oracle-checkable. Token multiplicity
    counts (explode, not distinct) — frequency-weighted like simhash_64."""
    df = spread(df)
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)
    tok = df.select("doc_id", F.explode(toks).alias("tok"))
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    bit_sums = [
        F.sum(F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"s{i}")
        for i in range(bits)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_sums)
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return sums.select("doc_id", sig.alias("simhash60"))


def simhash_md5_pairs(
    df: DataFrame, text_col: str = "text", max_hamming: int = 10, n_bands: int = 4
) -> DataFrame:
    """Near-dup candidate pairs over the PORTABLE 60-bit signatures
    (simhash_md5): 15-bit bands → band equi-join → exact hamming filter.
    Same shape as simhash_candidates but every step — signature, bands,
    xor, popcount — has a DuckDB twin, so the full pipeline
    (hash → sign-bits → banding → join → verify) is oracle-checkable."""
    banded = _banded_simhash_pairs_input(
        simhash_md5(df, text_col), "simhash60", n_bands, bits_per_band=15
    )
    return _banded_hamming_pairs(banded, "simhash60", max_hamming)


def _banded_simhash_pairs_input(
    sig: DataFrame, sig_col: str, n_bands: int, bits_per_band: int
) -> DataFrame:
    """(doc_id, <sig_col>, band, bk) rows: the signature exploded into its
    bit-bands WITH the full signature carried along, repartitioned by the
    band key so both sides of the downstream aliased self-join inherit
    ONE reused exchange (reuse-not-cache, cachectl.py)."""
    mask = (1 << bits_per_band) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col(sig_col), bits_per_band * b)
                .bitwiseAND(F.lit(mask))
                .alias("bk"),
            )
            for b in range(n_bands)
        ]
    )
    return (
        sig.select("doc_id", sig_col, F.explode(band_structs).alias("s"))
        .select("doc_id", sig_col, F.col("s.band").alias("band"), F.col("s.bk").alias("bk"))
        .repartition("band", "bk")
    )


def _banded_hamming_pairs(banded: DataFrame, sig_col: str, max_hamming: int) -> DataFrame:
    """Self-join banded signature rows on (band, bk), verify hamming
    INLINE from the carried signatures, dedupe pairs found in several
    bands with one pair-keyed aggregate (hamming is identical whichever
    band matched, so max() is a pure dedupe)."""
    left = banded.alias("A")
    right = banded.alias("B")
    hamming = F.bit_count(
        F.col(f"A.{sig_col}").bitwiseXOR(F.col(f"B.{sig_col}"))
    ).cast("long")
    return (
        left.join(
            right,
            (F.col("A.band") == F.col("B.band")) & (F.col("A.bk") == F.col("B.bk")),
        )
        .filter(F.col("A.doc_id") < F.col("B.doc_id"))
        .select(
            F.col("A.doc_id").alias("doc_a"),
            F.col("B.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("hamming").alias("hamming"))
    )


def contrastive_triplets(
    df: DataFrame,
    pairs: DataFrame,
    k: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """(anchor, positive, negative, slot) triplets for contrastive /
    embedding training: positives come from the near-dup ``pairs`` frame
    (doc_a, doc_b), negatives are drawn deterministically from the whole
    corpus — for slot j of anchor a, the document sitting at md5-order
    position hash(a:j) mod n. Selection is seedless and reproducible
    (same triplets on every rerun/partitioning — the property a 100 TB
    training-set build needs), and the draw is an EQUI-JOIN on position,
    never a cross join: candidate volume is exactly |pairs|·k rows.

    Accidental collisions (the drawn negative IS the anchor, its
    positive, or any known near-dup of the anchor) are dropped — with
    near-dup sets vanishingly small relative to the corpus, the expected
    loss is |pairs|·k·O(dups/n), so slots stay ~full; the remaining
    slots are exact, not probabilistic.

    Composition: positions come from the same md5 global order as
    operators/layout.shard_assignment (there computed as a two-phase
    bucketed rank; the semantics are ROW_NUMBER over (md5(id), id))."""
    from .layout import shard_assignment

    # consumed by the scalar-count branch and the position equi-join; the
    # two evaluations are cheaper than a session-lifetime cache (cachectl)
    positions = shard_assignment(df, n_shards=1, id_col=id_col).select(
        F.col(id_col).alias("negative"), "global_pos"
    )
    n = positions.agg(F.count("*").alias("__n"))
    slots = pairs.select(
        F.col("doc_a").alias("anchor"), F.col("doc_b").alias("positive")
    ).select(
        "*", F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("slot")
    )
    target = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("anchor").cast("string"),
                        F.lit(":"),
                        F.col("slot").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        % F.col("__n")
    )
    drawn = (
        slots.crossJoin(F.broadcast(n))
        .withColumn("target_pos", target)
        .join(positions, F.col("target_pos") == F.col("global_pos"))
        .select("anchor", "positive", "negative", "slot")
    )
    sym = pairs.select(
        F.col("doc_a").alias("anchor"), F.col("doc_b").alias("negative")
    ).union(
        pairs.select(F.col("doc_b").alias("anchor"), F.col("doc_a").alias("negative"))
    )
    return (
        drawn.filter(
            (F.col("negative") != F.col("anchor"))
            & (F.col("negative") != F.col("positive"))
        )
        .join(sym, ["anchor", "negative"], "left_anti")
    )


def doc_shingle_tf(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle, tf, nsq) rows — per-doc shingle term frequencies
    with the doc's squared L2 norm (sum of tf², an exact integer) carried
    on every row. Computed per document in one Arrow pass (a local
    Counter), same tokenizer as doc_shingles_arrow; the norm-carry means
    pairwise cosine downstream never joins back to a norms frame (the
    same two-shuffle saving as ngram_jaccard_pairs's size-carry)."""
    import re
    from collections import Counter

    import pandas as pd

    pat = re.compile(r"[^ \t\n\x0b\f\r]+")  # ASCII expansion of Java \S

    def gen(batches):
        for pdf in batches:
            ids, shingles, tfs, nsqs = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                toks = pat.findall(text.lower())
                cnt = Counter(
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                )
                nsq = sum(v * v for v in cnt.values())
                for s, tf in cnt.items():
                    ids.append(doc_id)
                    shingles.append(s)
                    tfs.append(tf)
                    nsqs.append(nsq)
            yield pd.DataFrame(
                {"doc_id": ids, "shingle": shingles, "tf": tfs, "nsq": nsqs}
            )

    return (
        spread(df)
        .filter(F.col(text_col).isNotNull())
        .mapInPandas(gen, "doc_id long, shingle string, tf long, nsq long")
    )


def shingle_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 256,
) -> DataFrame:
    """Exact n-gram TERM-FREQUENCY cosine for all co-occurring doc pairs —
    the multiplicity-weighted complement to ngram_jaccard_pairs (set
    semantics): cos(a,b) = Σ tf_a·tf_b / (‖tf_a‖·‖tf_b‖). A doc that
    hammers one phrase among otherwise-shared content keeps a high
    shingle-SET overlap (Jaccard ~0.6) while its tf vector swings toward
    the repeated phrase (cosine ~0.3) — so this flags repetition-skewed
    near-dups Jaccard scores as close (and conversely, cosine forgives
    whole-document repetition that Jaccard penalizes via novel
    wrap-around shingles; both directions pinned in tests).

    Float parity: the numerator is a SUM of integer products (exact,
    order-free), both squared norms are exact integers carried on the
    shingle rows, sqrt is a correctly-rounded IEEE op, and the final
    division is one float op — so the score is bit-reproducible across
    engines with no sequential-fold choreography at all.

    Scale shape: the :func:`posting_pairs` self-join on shingle with tf
    and the squared norm carried, then one pair-keyed aggregate. The
    ``max_df`` hot-shingle cap is ON by default (dropping a capped
    shingle only LOWERS the numerator: the score is a lower bound, norms
    stay exact; pass None for the exact form)."""
    tf = doc_shingle_tf(df, text_col, n)
    pairs = (
        posting_pairs(tf, "shingle", ["tf", "nsq"], max_df=max_df)
        .groupBy("doc_a", "doc_b", "nsq_a", "nsq_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("num"))
    )
    cos = F.col("num") / (F.sqrt(F.col("nsq_a")) * F.sqrt(F.col("nsq_b")))
    return (
        pairs.withColumn("cosine", F.floor(cos * 1e6 + F.lit(0.5)) / 1e6)
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "num", "nsq_a", "nsq_b", "cosine")
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    carry_cols: tuple = (),
    with_size: bool = False,
) -> DataFrame:
    """Distinct (doc_id, fp) winnowing fingerprints (Schleimer, Wilkerson
    & Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003 — the MOSS selector): hash every word k-gram, then keep
    the MINIMUM hash of each sliding window of ``w`` consecutive k-gram
    hashes. The guarantee: any shared token run of length >= k + w - 1
    between two documents forces at least one IDENTICAL selected
    fingerprint in both — so substring-level overlap is detectable from
    a ~1/w-sized sample of the k-gram set, with the sampling decision
    made LOCALLY per position (no corpus statistics needed, unlike
    MinHash's global permutations).

    Everything is per-document array expressions (whole-stage codegen:
    one regexp pass, md5 per k-gram, array_min per window, one
    array_distinct) — zero shuffles until the caller joins fingerprints;
    md5 hex strings compare lexicographically the same in the JVM and
    DuckDB, so selections are bit-reproducible. ``with_size=True`` rides
    the per-doc DISTINCT fingerprint count (``n_fp``) on every exploded
    row: the rows are distinct per doc (array_distinct), so
    ``size(fps)`` computed in the same map pass equals the post-explode
    per-doc count — consumers that need set sizes (containment
    denominators) skip a full groupBy-by-doc_id shuffle (r11, guide
    §2.1)."""
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)
    kg_idx = F.sequence(F.lit(0), F.size(toks) - k)
    hashes = F.transform(kg_idx, lambda i: F.md5(F.array_join(F.slice(toks, i + 1, k), " ")))
    # HOIST the k-gram hash array into its own projection: spliced as a
    # sub-expression inside the window lambda it would be RE-EVALUATED for
    # every window (O(n²) md5s per doc — measured 22x slower at sf0.1).
    # As an attribute reference the array computes once per row, and
    # CollapseProject keeps the barrier (non-cheap alias, multiple refs).
    # carry_cols ride the map-only pass so consumers that need doc
    # attributes (e.g. source_overlap_matrix's source label) never join
    # back to the corpus by doc_id — two corpus shuffles saved per use
    base = spread(df).filter(F.size(toks) >= k + w - 1)
    h = base.select("doc_id", *carry_cols, hashes.alias("__h"))
    hcol = F.col("__h")
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(hcol) - w),
            lambda j: F.array_min(F.slice(hcol, j + 1, w)),
        )
    )
    if with_size:
        # hoist the distinct-fp array (same reason as __h: two refs must
        # not re-run the O(n·w) selection), then explode an array of
        # (n_fp, fp) STRUCTS rather than the bare attribute. The struct
        # generator is deliberate: exploding the plain attribute lets
        # InferFiltersFromGenerate add a size(__fps)>0 predicate that
        # filter-pushdown splices through BOTH projections, re-inlining
        # the whole md5/regexp fingerprint expression into an
        # interpreted Filter — O(n²) md5+tokenize per doc, measured as a
        # >10-minute hang at sf0.1. A non-cheap generator blocks that
        # inference (the same reason the plain-explode form below never
        # hit it: its generator IS the full expression).
        hf = h.select("doc_id", *carry_cols, fps.alias("__fps"))
        gen = F.explode(
            F.transform(
                F.col("__fps"),
                lambda x: F.struct(
                    F.size("__fps").alias("n_fp"), x.alias("fp")
                ),
            )
        )
        return hf.select("doc_id", *carry_cols, gen.alias("__s")).select(
            "doc_id",
            *carry_cols,
            F.col("__s.n_fp").alias("n_fp"),
            F.col("__s.fp").alias("fp"),
        )
    return h.select("doc_id", *carry_cols, F.explode(fps).alias("fp"))


def winnowing_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    threshold: float = 0.5,
    max_df: int | None = 256,
) -> DataFrame:
    """Substring-overlap candidate pairs by shared winnowing fingerprints:
    containment = |fp_a ∩ fp_b| / min(|fp_a|, |fp_b|) — the MOSS
    plagiarism/contamination score. By the winnowing guarantee a shared
    run of k+w-1 tokens cannot be missed, so near-verbatim inclusions of
    a smaller doc inside a bigger one score ~1.0 even when whole-doc
    measures (Jaccard over all shingles) dilute toward 0.

    Scale shape: the :func:`posting_pairs` self-join on fingerprint.
    Fingerprint sets are ~1/w of the shingle sets, so the join moves ~w×
    less data than ngram_jaccard_pairs for the same corpus; per-doc set
    sizes ride the fingerprint rows (``with_size=True``, no sizes
    join); hot fingerprints are capped by ``max_df``, ON by default
    (containment becomes a lower bound; pass None for exact)."""
    fp = winnowing_fingerprints(df, text_col, k, w, with_size=True)
    inter = (
        posting_pairs(fp, "fp", ["n_fp"], max_df=max_df)
        .groupBy(
            "doc_a", "doc_b", F.col("n_fp_a").alias("n_a"), F.col("n_fp_b").alias("n_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    score = F.col("n_shared") / F.least(F.col("n_a"), F.col("n_b"))
    return (
        inter.withColumn("containment", F.floor(score * 1e6 + F.lit(0.5)) / 1e6)
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "n_shared", "n_a", "n_b", "containment")
    )


def exact_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    span_tokens: int = 10,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr
    method, bounded-window form): every ``span_tokens``-token window of
    every document is hashed; a window duplicated anywhere in the corpus
    (>= min_occurrences locations, self-repetition included, matching
    the paper's suffix-array semantics) marks its start position; per
    document, consecutive duplicated start positions merge into MAXIMAL
    duplicated spans [span_start, span_end) — exactly the token ranges
    ExactSubstr would cut. The fixed window is the bounded analog of the
    paper's length-50 suffix-array matches: any duplicated run of >=
    span_tokens tokens is found in full, shorter duplicates are ignored.

    Scale shape — the reason this beats pair-based dedup at 100 TB:
    there is NO pair join anywhere. Window hashing is per-doc array
    expressions (zero shuffle), duplicate detection is one groupBy on
    the 128-bit window hash (map-side partial agg collapses repeats),
    the mark-back is an equi-join on the hash, and span merging is a
    per-doc window function (gaps-and-islands: pos - row_number), so
    cost is O(corpus tokens), never O(pairs). Output rows are spans,
    bounded by corpus size.

    All hashing is md5 over space-joined lowercase tokens — the DuckDB
    oracle reproduces hashes, duplicate sets, and island boundaries
    verbatim; every output column is exact integer arithmetic."""
    from pyspark.sql import Window

    L = span_tokens
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)
    # hoist the token array (doc_shingles lesson: a lambda body re-runs
    # captured expressions per element — here the regexp per window)
    hbase = (
        spread(df)
        .filter(F.col(text_col).isNotNull())
        .filter(F.size(toks) >= L)
        .select("doc_id", toks.alias("__toks"))
    )
    tcol = F.col("__toks")
    idx = F.sequence(F.lit(0), F.size(tcol) - L)
    hashes = F.transform(idx, lambda i: F.md5(F.array_join(F.slice(tcol, i + 1, L), " ")))
    w = hbase.select("doc_id", F.posexplode(hashes).alias("pos", "h"))
    dup = w.groupBy("h").agg(F.count("*").alias("__n")).filter(
        F.col("__n") >= min_occurrences
    ).select("h")
    dpos = w.join(dup, "h").select("doc_id", "pos")
    win = Window.partitionBy("doc_id").orderBy("pos")
    isl = dpos.withColumn("__grp", F.col("pos") - F.row_number().over(win))
    return (
        isl.groupBy("doc_id", "__grp")
        .agg(F.min("pos").alias("span_start"), (F.max("pos") + L).alias("span_end"))
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
        )
    )


def exact_substring_report(
    df: DataFrame,
    text_col: str = "text",
    span_tokens: int = 10,
    min_occurrences: int = 2,
) -> DataFrame:
    """Per-document duplicated-token accounting for ExactSubstr dedup:
    how many of each doc's tokens sit inside a duplicated span (the
    tokens the Lee et al. cut would delete) and the duplicated fraction.
    Every doc appears (zero-span docs report 0.0) — the frame a corpus
    build joins against to decide cut-vs-keep. Same plan as
    exact_substring_spans plus one per-doc aggregate and a left join
    back to the token counts; the fraction is one exact int/int divide
    on the 1e-6 grid."""
    L = span_tokens
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)
    base = (
        spread(df)
        .filter(F.col(text_col).isNotNull())
        .select("doc_id", F.size(toks).cast("long").alias("n_tokens"))
    )
    spans = exact_substring_spans(df, text_col, L, min_occurrences)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("span_len").alias("__dup"), F.count("*").alias("__nsp")
    )
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("__dup"), F.lit(0)).cast("long").alias("dup_tokens"),
        F.coalesce(F.col("__nsp"), F.lit(0)).cast("long").alias("n_spans"),
        (
            F.floor(
                F.coalesce(F.col("__dup"), F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1))
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("dup_fraction"),
    )


def benchmark_decontaminate(
    df: DataFrame,
    bench_filter,
    text_col: str = "text",
    span_tokens: int = 10,
) -> DataFrame:
    """N-gram benchmark decontamination (the GPT-3 appendix-C / PaLM
    recipe, exact-window form): a TRAINING document is contaminated iff
    it shares any ``span_tokens``-token window with a document in the
    held-out benchmark set (``bench_filter`` selects benchmark rows).
    Output is every training doc with its total window count, the count
    of contaminated window positions, a 1e-6-grid contamination
    fraction, and the flag a corpus build filters on — eval leakage
    accounting, the audit run before any benchmark number is quoted.

    Scale shape: the benchmark window-hash set is DISTINCT hashes of a
    (small) eval corpus — it broadcasts; training windows are per-doc
    array expressions (zero shuffle) probed with one broadcast-capable
    equi-join, then ONE per-doc aggregate. No pair join, no dependence
    on training-corpus self-similarity: cost is O(corpus tokens) and the
    benchmark side is read once."""
    L = span_tokens
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)
    base = spread(df).filter(F.col(text_col).isNotNull())
    # hoist the token array (doc_shingles lesson: a lambda body re-runs
    # captured expressions per element — here the regexp per window)
    wbase = base.filter(F.size(toks) >= L).select("doc_id", toks.alias("__toks"))
    tcol = F.col("__toks")
    idx = F.sequence(F.lit(0), F.size(tcol) - L)
    hashes = F.transform(idx, lambda i: F.md5(F.array_join(F.slice(tcol, i + 1, L), " ")))
    w = wbase.select("doc_id", F.posexplode(hashes).alias("pos", "h"))
    bench_ids = base.filter(bench_filter).select("doc_id")
    bench_h = w.join(F.broadcast(bench_ids), "doc_id").select("h").distinct()
    train = base.join(F.broadcast(bench_ids), "doc_id", "left_anti")
    train_w = w.join(F.broadcast(bench_ids), "doc_id", "left_anti")
    hits = (
        train_w.join(F.broadcast(bench_h), "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("__hits"))
    )
    totals = train.select(
        "doc_id", F.greatest(F.size(toks) - L + 1, F.lit(0)).cast("long").alias("n_windows")
    )
    return totals.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        F.coalesce(F.col("__hits"), F.lit(0)).cast("long").alias("n_contaminated"),
        (
            F.floor(
                F.coalesce(F.col("__hits"), F.lit(0))
                / F.greatest(F.col("n_windows"), F.lit(1))
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("contam_fraction"),
        (F.coalesce(F.col("__hits"), F.lit(0)) > 0).alias("contaminated"),
    )


def _ppjoin_candidates(
    df: DataFrame,
    text_col: str,
    n: int,
    threshold: float,
    positional: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """(candidate pairs, doc_id-partitioned shingle frame) for PPJoin.
    ``positional`` toggles the positional filter so tests can assert the
    candidate count strictly drops; production callers always leave it
    on. The returned shingle frame is kept for callers that want the
    exploded rows (tests); ppjoin_jaccard_pairs itself verifies against
    map-only per-doc arrays (doc_shingle_arrays, r12) instead."""
    from pyspark.sql import Window

    t_micro = int(round(threshold * 1_000_000))
    # each repartition is an exchange BARRIER: the stage above it (Arrow
    # shingling, then the df window-count) materializes exactly once into
    # shuffle files that every downstream consumer re-reads (ReuseExchange)
    # — the no-persist equivalent of the old cached shingle frame
    sh = (
        doc_shingles_arrow(df, text_col, n, with_size=True)
        .repartition("shingle")
        .withColumn("__df", F.count("*").over(Window.partitionBy("shingle")))
        .repartition("doc_id")
    )
    ranked = sh.withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("__df", "shingle")
        ),
    )
    # prefix length p = |x| - ceil(t*|x|) + 1; ceil in exact integer math:
    # ceil(t*n) = floor((t_micro*n + 999999) / 1e6)
    ceil_tn = F.floor((F.lit(t_micro) * F.col("n_sh") + F.lit(999_999)) / F.lit(1_000_000))
    prefix = (
        ranked.filter(F.col("pos") <= F.col("n_sh") - ceil_tn + 1)
        .select("doc_id", "shingle", "n_sh", "pos")
        .repartition("shingle")  # barrier: rank window computed once
        # (r12 accumulator-verified: the two prefix join sides prune to
        # the same columns, so AQE stage reuse fires here — the executed
        # plan shows ReusedExchange on the PB side)
    )
    a = prefix.alias("PA")
    b = prefix.alias("PB")
    n_a, n_b = F.col("PA.n_sh"), F.col("PB.n_sh")
    pos_a, pos_b = F.col("PA.pos"), F.col("PB.pos")
    matched = (
        a.join(b, F.col("PA.shingle") == F.col("PB.shingle"))
        .filter(F.col("PA.doc_id") < F.col("PB.doc_id"))
        # size filter: t*max(|x|,|y|) <= min(|x|,|y|), exact in micros
        .filter(
            F.lit(t_micro) * F.greatest(n_a, n_b)
            <= F.lit(1_000_000) * F.least(n_a, n_b)
        )
    )
    # minimum required overlap α = ceil(t·(|x|+|y|)/(1+t)), exact micros
    denom = 1_000_000 + t_micro
    alpha = F.floor(
        (F.lit(t_micro) * (F.col("n_a") + F.col("n_b")) + F.lit(denom - 1)) / F.lit(denom)
    )
    if positional:
        # per-row bound BEFORE the pair shuffle: any shared token at
        # (i, j) caps overlap at min(i,j) + min(|x|-i, |y|-j)
        alpha_row = F.floor(
            (F.lit(t_micro) * (n_a + n_b) + F.lit(denom - 1)) / F.lit(denom)
        )
        matched = matched.filter(
            F.least(pos_a, pos_b) + F.least(n_a - pos_a, n_b - pos_b) >= alpha_row
        )
    grouped = (
        matched.select(
            F.col("PA.doc_id").alias("doc_a"),
            F.col("PB.doc_id").alias("doc_b"),
            n_a.alias("n_a"),
            n_b.alias("n_b"),
            pos_a.alias("pos_a"),
            pos_b.alias("pos_b"),
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.min("pos_a").alias("i1"), F.min("pos_b").alias("j1"))
    )
    if positional:
        # exact first-match bound: the shared prefix token with the
        # smallest global order has BOTH the min pos in x and the min pos
        # in y (the shingle ranking is one global order), and nothing
        # shared precedes it — overlap <= 1 + min(|x|-i1, |y|-j1)
        grouped = grouped.filter(
            F.lit(1) + F.least(F.col("n_a") - F.col("i1"), F.col("n_b") - F.col("j1"))
            >= alpha
        )
    return grouped.select("doc_a", "doc_b"), sh


def ppjoin_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs (identical output to
    ``ngram_jaccard_pairs(max_df=None)``) with candidates generated by
    PREFIX FILTERING (PPJoin, Xiao et al., WWW 2008) instead of the full
    inverted index.

    Each document's distinct shingles are globally ordered rarest-first
    (ascending document frequency, shingle string as tiebreak). For
    Jaccard >= t, two sets of sizes ``|x| <= |y|`` must share at least
    ``|x| - ceil(t*|x|) + 1`` tokens, so if they share NONE of the first
    ``|x| - ceil(t*|x|) + 1`` tokens of the global order they cannot pass
    — only that PREFIX is indexed. The self-equi-join therefore runs on a
    fraction of the shingle rows, and because the prefix is the RAREST
    tokens of each document, the hottest (stop-phrase) shingles fall out
    of the index for long documents first — prefix filtering is a
    principled skew guard, where ``max_df`` is a recall-lossy one and
    salting a physical one. A size filter (``t*|y| <= |x|``, applied in
    exact micro-integer arithmetic) prunes the survivors further.

    The POSITIONAL filter (the paper's §3 contribution) prunes further
    using WHERE in each document's sorted order the shared prefix token
    sits. For a shared token at (1-based) positions ``i`` in x and ``j``
    in y, total overlap <= min(i, j) + min(|x|-i, |y|-j) — applied
    per matched row before the pair aggregate. The aggregate then applies
    the exact first-match bound: because both documents rank shingles by
    the same global order, the shared prefix token with the smallest
    ``pos`` in x is also the one with the smallest ``pos`` in y, and at
    that first match the overlap bound tightens to
    ``1 + min(|x|-i1, |y|-j1)`` (nothing shared can precede it). Both
    bounds are compared against the minimum required overlap
    ``α = ceil(t·(|x|+|y|)/(1+t))`` in exact micro-integer arithmetic, so
    pruning can only shrink the candidate SUPERSET — every true pair's
    first shared prefix token is a surviving witness (overlap >= α forces
    ``1 + min(...) >= α`` there), hence output values are unchanged.

    Candidates are then verified EXACTLY: the candidate pairs join each
    side's full sorted-shingle array (one bounded array per document) and
    intersect locally per pair — no second corpus-wide shuffle on
    shingle. Output schema and values match ``ngram_jaccard_pairs``
    bit-for-bit (oracle-verified).

    Scale shape: ONE repartition by shingle (document frequency = window
    count over it; ReuseExchange materializes the Arrow shingling once —
    nothing persisted, cachectl.py discipline), one per-doc sort window
    (shuffle by doc_id), one self-equi-join on PREFIX shingles only, one
    pair-keyed aggregate applying the first-match positional bound, one
    verify join. The t=0.5 prefix keeps ~half of each document's index
    rows; higher thresholds keep fewer."""
    cand, sh = _ppjoin_candidates(df, text_col, n, threshold, positional=True)
    # Verify arrays, r12: one Arrow pass building each document's sorted
    # array directly (doc_shingle_arrays) instead of re-grouping the
    # exploded shingle frame. The old collect_list regroup branch pruned
    # to a NARROWER column set than the candidate branch (no __df), so
    # its exchanges never matched for AQE stage reuse
    # (accumulator-verified: the Arrow shingling ran TWICE per query)
    # and it paid Exchange(shingle)+Exchange(doc_id) on the exploded
    # rows besides. The repartition below gives the aa/bb verify sides
    # ONE reusable exchange (identical pruning → stage reuse fires) —
    # without it the map stage computes once per side, which is exactly
    # how the rejected JVM-expression variant lost (A/B in
    # OPTIMIZATION_r12.md).
    # (r8 history, still honored: checkpointing the CANDIDATE frame and
    # semi-pruning the arrays to candidate docs both measured SLOWER on
    # this candidate-dense corpus — tools/profile_ppjoin.py.)
    arrays = doc_shingle_arrays(df, text_col, n).repartition("doc_id")
    aa = arrays.select(
        F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"), F.col("n_sh").alias("n_a")
    )
    bb = arrays.select(
        F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"), F.col("n_sh").alias("n_b")
    )
    verified = (
        cand.join(aa, "doc_a")
        .join(bb, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("toks_a", "toks_b")).cast("long"))
    )
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        verified.withColumn("jaccard", F.floor(jac * 1e6 + F.lit(0.5)) / 1e6)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard")
    )
