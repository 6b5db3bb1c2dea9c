"""Text analysis for large-scale training-data pipelines.

Language-ID (marker-token heuristic), quality scoring (length/stopword/
uniqueness ratios), token counting (whitespace + BPE-ish regex), document
fingerprinting (bag-of-words digest + polynomial rolling hash), word
shingles. All pure column expressions — no UDFs, so plans stay inside
whole-stage codegen at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/marker heuristic. Ordered:
# ties resolve to the earlier entry (deterministic, mirrored in oracle SQL).
LANG_MARKERS: list[tuple[str, list[str]]] = [
    ("en", ["the", "a", "of", "and", "to"]),
    ("es", ["el", "la", "de", "los", "y"]),
    ("de", ["der", "die", "und", "das", "ein"]),
    ("fr", ["le", "les", "et", "un", "une"]),
]

EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]

BPE_ISH_PATTERN = r"[a-z]+|[0-9]|[^a-z0-9\s]"


def tokenize(col: Column) -> Column:
    """Whitespace tokenization (documents are pre-normalized)."""
    return F.split(col, " ")


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokenize(col)).cast("long")


def token_count_bpe(col: Column) -> Column:
    """BPE-ish token count: alpha runs, single digits, single punctuation —
    a cheap proxy for subword token budgets."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0)).cast("long")


def marker_score(tokens: Column, markers: list[str]) -> Column:
    """How many tokens are in the marker list (occurrence count)."""
    lits = [F.lit(m) for m in markers]
    return F.size(F.filter(tokens, lambda t: t.isin(*[m for m in markers]))).cast("long")


def lang_id(text: Column) -> Column:
    """Marker-based language ID with deterministic tie-break (list order);
    'und' when no marker fires. A real deployment swaps the marker lists for
    char-n-gram profiles — the operator shape (pure expression, argmax with
    stable ties) is what scales."""
    toks = tokenize(F.lower(text))
    scores = {lang: marker_score(toks, ms) for lang, ms in LANG_MARKERS}
    best: Column = F.lit("und")
    # build argmax right-to-left so earlier langs win ties
    for lang, _ in reversed(LANG_MARKERS):
        better_than_later = [scores[lang] >= scores[l2] for l2, _ in LANG_MARKERS
                             if l2 != lang]
        cond = scores[lang] > 0
        for b in better_than_later:
            cond = cond & b
        best = F.when(cond, F.lit(lang)).otherwise(best)
    # iterate in reverse so the first language's when() ends up outermost
    return best


def quality_components(text: Column, n_chars: Column) -> dict[str, Column]:
    """Quality sub-scores, each derived from exact integer counts so the
    arithmetic is reproducible bit-for-bit across engines."""
    toks = tokenize(text)
    n_tok = F.size(toks).cast("long")
    n_uniq = F.size(F.array_distinct(toks)).cast("long")
    stop_cnt = marker_score(toks, EN_STOPWORDS)
    return {
        "n_tok": n_tok,
        "n_uniq": n_uniq,
        "stop_cnt": stop_cnt,
        "len_score": F.least(n_chars / F.lit(500.0), F.lit(1.0)),
        "stop_ratio": stop_cnt / n_tok,
        "uniq_ratio": n_uniq / n_tok,
    }


def quality_score(text: Column, n_chars: Column) -> Column:
    """Weighted quality score in [0, 1]: length + stopword plausibility +
    lexical diversity. Round(…, 6) for cross-engine hash stability."""
    c = quality_components(text, n_chars)
    return F.round(
        F.lit(0.5) * c["len_score"] + F.lit(0.3) * c["stop_ratio"] + F.lit(0.2) * c["uniq_ratio"],
        6,
    )


def fingerprint_bow(text: Column) -> Column:
    """Bag-of-words fingerprint: md5 over the sorted distinct token set —
    catches reorder-only duplicates that exact hashing misses."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokenize(text)))))


ROLLING_HASH_MOD = (1 << 56) - 5


def rolling_hash(text: Column, base: int = 31, mod: int = ROLLING_HASH_MOD) -> Column:
    """Polynomial rolling hash over tokens (order-sensitive fingerprint):
    h = h*base + xxhash64(token) (mod 2^56-5), computed via the higher-order
    ``aggregate`` — stays JVM-side, no UDF. The modulus keeps
    ``acc*base + h < 2^63`` so ANSI-mode long arithmetic never overflows."""
    toks = tokenize(text)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * F.lit(base) + F.pmod(F.xxhash64(t), F.lit(mod)), F.lit(mod)),
    )


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles as '_'-joined strings; empty array when the doc
    is shorter than n tokens."""
    idx = F.sequence(F.lit(1), F.size(tokens) - (n - 1))
    make = F.transform(
        idx, lambda i: F.concat_ws("_", *[F.element_at(tokens, i + j) for j in range(n)])
    )
    return F.when(F.size(tokens) >= n, make).otherwise(F.array().cast("array<string>"))


def run_starts(s: Column) -> Column:
    """0-based indices where a new run begins in a SORTED array — the O(L)
    building block for per-element frequency counting (run-length
    encoding by index). ``counts[j] = coalesce(starts[j+1], size(s)) -
    starts[j]`` recovers each distinct element's multiplicity without the
    O(L²) per-distinct-element ``F.filter`` scan.

    CALLER CONTRACT (the HOF re-evaluation rule): ``s`` must be a BOUND
    attribute — project ``array_sort(...)`` behind its own select first,
    and project this function's result behind another select before
    indexing into it from a downstream lambda. Higher-order functions are
    interpreted (no codegen CSE), so a computed expression referenced
    inside a lambda re-evaluates per element; an attribute reference is a
    row-slot read, O(1). Empty/NULL input → empty starts array."""
    return F.when(
        F.size(s) > 0,
        F.filter(
            F.sequence(F.lit(0), F.size(s) - 1),
            # null-safe inequality: a run of NULL elements starts its own
            # run instead of merging into the preceding one (plain != is
            # NULL, not true, when either element is NULL); the i==0
            # disjunct still anchors the first run even when s[0] IS NULL
            # (eqNullSafe(NULL, NULL) would be true for the wrapped get).
            lambda i: (i == F.lit(0)) | ~F.get(s, i).eqNullSafe(F.get(s, i - 1)),
        ),
    ).otherwise(F.array().cast("array<int>"))


def pushdown_barrier(col: Column) -> Column:
    """Identity wrapper marked non-deterministic (a 1-element ``shuffle``):
    a Project containing it blocks predicate pushdown through the whole
    projection list, so a downstream ``.filter(...)`` evaluates the BOUND
    output columns once per row instead of substituting their full
    expression trees into the pushed condition. Essential above
    ``run_starts``-style indexed-lambda chains, where substitution nests
    computed arrays inside per-element lambdas and re-inflates the pass
    to O(L²+). Costs one 1-element array per row; trades away scan-level
    pushdown of filters on the wrapped relation (document per call
    site)."""
    return F.element_at(F.shuffle(F.array(col)), 1)


def winnow_fingerprints(tokens: Column, k: int = 4, w: int = 4) -> Column:
    """MOSS-style winnowing fingerprints (Schleimer et al., SIGMOD'03):
    hash every token k-gram, slide a w-wide window over the hash
    sequence, keep each window's minimum; the distinct minima are the
    document's fingerprints. Guarantees any shared run of k+w-1 tokens
    between two docs shares ≥1 fingerprint, while storing ~2/(w+1) of
    the k-gram hashes — the sub-linear sketch for copy/plagiarism
    detection at corpus scale. Hashes are md5-prefix strings (min =
    lexicographic) so the result is engine-portable; all array math is
    higher-order functions — JVM-side, no UDF. Empty array for docs
    shorter than k+w-1 tokens."""
    kg = F.transform(
        word_shingles(tokens, k),
        lambda s: F.substring(F.md5(s.cast("binary")), 1, 16),
    )
    minima = F.transform(
        F.sequence(F.lit(1), F.size(kg) - (w - 1)),
        lambda j: F.array_min(F.slice(kg, j, w)),
    )
    return F.when(F.size(kg) >= w, F.array_distinct(minima)).otherwise(
        F.array().cast("array<string>")
    )


def char_entropy(sorted_chars: Column, n: Column) -> Column:
    """Shannon entropy (bits/char) of a document's character distribution —
    a perplexity-proxy quality signal (binary junk / base64 blobs / key
    dumps score far from natural text).

    Row-local and shuffle-free: instead of explode→groupBy (which would
    multiply the corpus by its character count through an exchange), the
    caller pre-projects ``array_sort(split(text, ''))`` behind its own
    select (the HOF rule) and this single ``F.aggregate`` pass run-length
    encodes the sorted array, accumulating Σ c·log2(c); then
    H = log2(n) − Σ c·log2(c)/n. At 100 TB this is a narrow map stage.
    """
    def mk(prev, run, s):
        return F.struct(prev.alias("prev"), run.alias("run"), s.alias("s"))

    def close_run(acc):
        return acc["s"] + F.when(
            acc["run"] > 0,
            acc["run"].cast("double") * F.log2(acc["run"].cast("double")),
        ).otherwise(F.lit(0.0))

    total = F.aggregate(
        sorted_chars,
        mk(F.lit(""), F.lit(0).cast("long"), F.lit(0.0)),
        lambda acc, ch: F.when(
            ch == acc["prev"], mk(ch, acc["run"] + 1, acc["s"])
        ).otherwise(mk(ch, F.lit(1).cast("long"), close_run(acc))),
        close_run,
    )
    return F.when(
        n > 0, F.round(F.log2(n.cast("double")) - total / n.cast("double"), 6)
    ).otherwise(F.lit(0.0))


def bm25_search(
    docs,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Lexical BM25 retrieval (Robertson/Sparck Jones; the Lucene
    ``+1``-smoothed idf variant): top-``k`` documents for a whitespace
    query — the sparse complement to the ANN family for hybrid
    retrieval over a training corpus.

    score(D,Q) = Σ_t ln((N − df_t + ½)/(df_t + ½) + 1)
                   · tf·(k1+1) / (tf + k1·(1 − b + b·|D|/avgdl))

    100 TB design: corpus rows NEVER shuffle. Per-term tf and doc
    length are row-local array math (no explode — the corpus never
    multiplies through an exchange); N/avgdl/df_t are ONE global
    aggregate whose only exchange gathers a single partial-agg row per
    task (map-side combine), broadcast back; the final top-k is
    TakeOrdered (no sort shuffle). Scores are
    rounded to 6 dp BEFORE ranking and tie-broken by doc id, so the
    result set is deterministic across engines and partitionings (term
    contributions sum in fixed query order). Two corpus passes total.
    """
    from pyspark.sql import DataFrame as _DF  # noqa: F401 (signature doc)

    terms = list(dict.fromkeys(query.lower().split()))
    if not terms:
        raise ValueError("query holds no terms")

    def tf_of(term):
        return F.size(F.filter(F.col("_toks"), lambda x: x == F.lit(term)))

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.col(text_col)), " ").alias("_toks"),
    ).select(
        "doc_id",
        F.size("_toks").alias("dl"),
        *[tf_of(t).alias(f"_tf{i}") for i, t in enumerate(terms)],
    )
    stats = base.agg(
        F.avg("dl").alias("_avgdl"),
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))

    def part(i):
        tf = F.col(f"_tf{i}").cast("double")
        df_t = F.col(f"_df{i}").cast("double")
        idf = F.log(
            (F.col("_n") - df_t + F.lit(0.5)) / (df_t + F.lit(0.5)) + F.lit(1.0)
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("_avgdl")
        )
        return idf * tf * F.lit(k1 + 1.0) / denom

    score = part(0)
    for i in range(1, len(terms)):
        score = score + part(i)
    any_hit = sum(F.col(f"_tf{i}") for i in range(len(terms))) > 0
    return (
        scored.filter(any_hit)
        .select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_postings(docs, id_col: str = "doc_id", text_col: str = "text"):
    """(doc_id, dl, term, tf) posting rows — ROW-LOCAL run-length math:
    sort the token array once, find run starts (O(L log L) total per doc
    via ``run_starts``; formerly a per-distinct-term in-array count,
    O(L²) — a 100k-token doc would straggle a 100 TB partition).
    This is the persistable retrieval index: write it once per corpus
    (``write_bm25_postings`` buckets it by term so downstream term-keyed
    aggregates/joins satisfy their distribution from storage) and score
    every future query table against it WITHOUT re-tokenizing the corpus
    (``bm25_search_queries(postings=...)``) — the BM25 counterpart of
    ``minhash_index``. Deterministic per document, so postings from
    different runs compose under append. NULL text coalesces to '' (one
    ``""`` posting, dl=1 — matching the direct path, which applies the
    same coalesce) so N/avgdl recovered from postings stay bit-equal to
    the direct path even on corpora with NULL rows."""
    # NOT spread (functions/spread.py): A/B at sf0.1 was flat
    # (bm25_bulk_postings 3.04 → 3.08 s) — the posting build's groupBy
    # exchange already redistributes, so the extra round-robin pass
    # buys nothing (r13)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_sort(
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " ")
        ).alias("_ts"),
    )
    starts = toks.select("doc_id", "_ts", run_starts(F.col("_ts")).alias("_st"))
    return starts.select(
        "doc_id",
        F.size("_ts").alias("dl"),
        F.explode(
            F.transform(
                F.col("_st"),
                lambda st, j: F.struct(
                    F.get(F.col("_ts"), st).alias("term"),
                    (
                        F.coalesce(
                            F.try_element_at(F.col("_st"), (j + F.lit(2)).cast("int")),
                            F.size("_ts"),
                        )
                        - st
                    ).alias("tf"),
                ),
            )
        ).alias("_p"),
    ).select("doc_id", "dl", F.col("_p.term").alias("term"), F.col("_p.tf").alias("tf"))


def write_bm25_postings(
    postings, table: str, num_buckets: int = 32, mode: str = "overwrite"
) -> None:
    """Persist ``bm25_postings`` output as a catalog table bucketed on
    ``term`` — the df aggregate and any non-broadcast term join then read
    their distribution straight from storage (plan pinned in tests)."""
    from kafka_streams_demo_spark.sources.bucketing import write_bucketed

    write_bucketed(postings, table, ["term"], num_buckets, mode=mode)


def bm25_search_queries(
    docs,
    queries,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qtext_col: str = "query_text",
    postings=None,
):
    """BM25 over a QUERY TABLE — real retrieval scores thousands of
    queries per corpus pass, not one literal string (``bm25_search`` is
    the single-query special case; same smoothed-idf formula, same
    round-then-rank determinism — parity-tested). Output:
    (query_id, doc_id, score, rk) with rk ≤ ``k`` per query.

    100 TB design: corpus rows never shuffle. Per-doc (term, tf) posting
    rows are ROW-LOCAL HOF math (distinct-token transform + in-array
    count — no corpus-keyed exchange anywhere); the query-term join is a
    broadcast, so only the MATCHED posting rows — query-relevant by construction — flow into
    the df aggregate and the per-(query, doc) score shuffle. N/avgdl is
    one map-side-combined global aggregate broadcast back. The final
    per-query top-k is a rank window over scored pairs, partitioned by
    query — thousands of queries spread across the cluster.

    Broadcast precondition: the query terms, the per-term df table
    (≤ |query vocabulary| rows) and the 1-row N/avgdl stats are always
    broadcast, so the query table must fit under Spark's broadcast
    limits — KB-to-MB for any realistic query set. Split a larger query
    set into batches of queries.

    Pass ``postings`` (a persisted ``bm25_postings`` table — bucketed by
    term via ``write_bm25_postings``) to score against the stored index
    without re-tokenizing the corpus; ``docs`` may then be None. N/avgdl
    is derived from the postings with one doc-keyed partial-combined
    aggregate (cheap next to the scoring pass; results bit-equal to the
    direct path — same-oracle hash-gated in the catalog).

    Determinism contract (ADVICE r13): the matched-postings subtree is
    referenced from two branches (the df count and the join-back), so
    ``postings``/``docs`` lineage is evaluated MORE THAN ONCE per run.
    Inputs must be deterministic — a non-deterministic source (e.g. an
    unpersisted sample) could make _df disagree with the matched rows.
    Every catalog caller passes a deterministic scan, a checkpointed
    frame, or the closed-form generated corpus."""
    if postings is None:
        if docs is None:
            raise ValueError("bm25_search_queries needs docs or postings")
        toks = docs.select(
            F.col(id_col).alias("doc_id"),
            # coalesce NULL→'' exactly as bm25_postings does, so the two
            # paths' N/avgdl agree even on corpora with NULL-text rows
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " ").alias(
                "_toks"
            ),
        )
        stats = toks.agg(
            F.avg(F.size("_toks")).alias("_avgdl"), F.count(F.lit(1)).alias("_n")
        )
        postings = bm25_postings(docs, id_col, text_col)
    else:
        # every doc carries ≥1 posting row (NULL/empty text coalesces to
        # the "" term in bm25_postings), so per-doc dl recovery + one
        # global aggregate reproduces the direct path's N/avgdl exactly
        stats = (
            postings.groupBy("doc_id")
            .agg(F.max("dl").alias("_dl"))
            .agg(F.avg("_dl").alias("_avgdl"), F.count(F.lit(1)).alias("_n"))
        )
    qterms = queries.select(
        F.col(qid_col).alias("query_id"),
        F.explode(
            F.array_distinct(F.split(F.lower(F.col(qtext_col)), " "))
        ).alias("term"),
    ).filter(F.col("term") != "")
    # restrict postings to query-relevant terms BEFORE any aggregate: df_t
    # must count each (term, doc) once even when several queries share the
    # term, so the distinct-term semi-join comes first. df_t is a
    # groupBy(term) count BROADCAST-joined back (r13 continuation): the
    # count map-side-combines to ≤ |query vocab| rows — a KB-to-MB frame
    # by the same argument that broadcasts the queries — so the exchange
    # carries per-partition term counts instead of EVERY matched posting
    # row, and rel needs no term-keyed Exchange+Sort at all. The price is
    # a second evaluation of the row-local posting build (Catalyst
    # replans the subtree per branch — no exchange exists to reuse), and
    # the A/B says that is the right trade: 6.3 → 5.2 s warm on
    # bm25_zipf_direct at sf0.1, results bit-identical (the r12 window
    # form paid the full rel exchange to read the subtree once).
    rel0 = postings.join(F.broadcast(qterms.select("term").distinct()), ["term"])
    dfc_tbl = rel0.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    # dfc_tbl is broadcast: it is vocab-bounded (≤ |query vocab| rows),
    # and a term-keyed shuffle join would pay BOTH the exchange this
    # restructure removed AND the double evaluation of the posting subtree.
    rel = rel0.join(F.broadcast(dfc_tbl), ["term"])
    tf = F.col("tf").cast("double")
    dfc = F.col("_df").cast("double")
    contrib = (
        F.log((F.col("_n") - dfc + F.lit(0.5)) / (dfc + F.lit(0.5)) + F.lit(1.0))
        * tf * F.lit(k1 + 1.0)
        / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("_avgdl")))
    )
    # per-(query, doc) score: term contributions are summed in SORTED
    # order, not shuffle-arrival order — double addition isn't
    # associative, and a run-to-run arrival flip at the 6-dp rounding
    # boundary would make the result nondeterministic. The DuckDB oracle
    # mirrors with list_sum(list_sort(...)). Executed as the window fold
    # (functions/fold.py), bit-identical to the collect_list formulation
    # but one Sort+Window pass instead of the sort-fallback
    # ObjectHashAggregate — 2.7× faster on the 5.6M-row bulk load (r13).
    from kafka_streams_demo_spark.functions.fold import sorted_fold_sum

    # shuffle_cols=[query_id]: the fold exchanges on query_id alone (a
    # subset satisfies the window's clustering), so the rank window
    # below reuses the SAME exchange instead of re-shuffling every
    # (query, doc) score row (guide §2.4 — one exchange, two windows)
    scored = sorted_fold_sum(
        rel.join(F.broadcast(qterms), ["term"]).crossJoin(F.broadcast(stats)),
        ["query_id", "doc_id"],
        contrib,
        "score",
        round_dp=6,
        shuffle_cols=["query_id"],
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "doc_id", "score", "rk")
    )


def bm25_search_queries_pruned(
    docs,
    queries,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qtext_col: str = "query_text",
    postings=None,
    tie_margin: float = 1e-6,
):
    """EXACT MaxScore-pruned bulk BM25 — same results as
    :func:`bm25_search_queries`, bit-for-bit (same-oracle hash-gated in
    the catalog), at a fraction of the scoring-join volume when the
    query batch is large.

    BASELINE.md r11 measured why this exists: at bulk query volumes the
    exhaustive path's cost is the term-match join — Σ_t |q(t)|·|d(t)|
    contribution rows — ~140 s at sf0.1 for 5000 queries, identical for
    the direct and postings paths, because common terms match most of
    the corpus. Where pruning pays depends on the VOCABULARY: on the
    driver documents table (31 words, each in ~77% of docs) there are
    no rare terms, candidates ≈ exhaustive, and this path is pure
    overhead (bm25_bulk_pruned documents that); on a Zipf vocabulary
    (zipf_corpus) the rare-term candidate set is ~3% of the exhaustive
    volume and the win grows with corpus size (2.1× wall at 50k docs —
    the bm25_zipf_* bench pair). Classic top-k pruning (Turtle & Flood's MaxScore /
    Broder et al.'s WAND family) bounds each term's possible
    contribution and skips documents that provably cannot enter the
    top-k. This is the declarative, shuffle-native rendition:

    1. CANDIDATES: each query's RAREST present term (min df, ties on
       term) selects its candidate docs — rare-term posting lists are
       short on Zipf data, so this set is small.
    2. PHASE 1: candidates are scored FULLY (all their matching query
       terms — identical sorted-fold + 6-dp rounding as the exhaustive
       path); θ_q = the k-th best rounded score.
    3. BOUND: ub(t) = max over matching docs of t's exact contribution
       (one term-keyed aggregate). A doc NOT matching the rarest term
       can score at most Σ ub(t) over the query's OTHER terms; if that
       bound < θ_q − ``tie_margin``, every such doc is skipped — the
       margin keeps a sub-threshold true score from ROUNDING up into a
       6-dp tie it could win on the doc_id tie-break.
    4. PHASE 2 (only queries the bound fails for, incl. those with
       fewer than k candidates): the remaining matching docs are scored
       exactly and the union re-ranked.

    Soundness: true top-k ⊆ phase-1 candidates whenever the bound
    holds (any skipped doc's rounded score is strictly below θ_q), and
    otherwise phase 2 restores exhaustiveness — so output ≡ exhaustive
    for EVERY input; the pruning is purely a performance fact, proven
    by the shared oracle. 100 TB shape: the corpus-sized relations
    (postings) are touched by term-keyed joins only; phase-1 match rows
    are candidate-sized, ub/df are |terms|-row aggregates, θ/prune
    flags are |queries|-row broadcasts."""
    hint = F.broadcast
    # TINY-FRAME CHECKPOINTS (r14, VERDICT r13 task 5): this path builds
    # ~10 broadcast relations, and each broadcast build used to replay
    # its whole upstream lineage — at sf0.1 the stage audit counted ~12
    # full re-scans of the (persisted) generated corpus just to rebuild
    # |queries|-row frames. Lazily checkpointing the small derivations
    # (stats, qterms, qmeta) and the posting build makes every broadcast
    # read a KB-scale RDD instead: interleaved A/B 10.2 → 8.4 s median
    # on bm25_zipf_pruned, results exceptAll-identical. (The DIRECT path
    # measured NEGATIVE on the same treatment — one fold, nothing
    # replays enough to pay the persist — and keeps its lazy shape.)
    if postings is None:
        if docs is None:
            raise ValueError("bm25_search_queries_pruned needs docs or postings")
        toks = docs.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " ").alias(
                "_toks"
            ),
        )
        stats = toks.agg(
            F.avg(F.size("_toks")).alias("_avgdl"), F.count(F.lit(1)).alias("_n")
        ).localCheckpoint(eager=False)
        # the derived posting build is read twice (df count + join-back);
        # checkpointing it also discharges the determinism caveat the
        # double evaluation carried. A PASSED-IN postings table is NOT
        # checkpointed: re-reading a parquet scan is cheaper than copying
        # it into executor memory, and pushdown still applies.
        postings = bm25_postings(docs, id_col, text_col).localCheckpoint(
            eager=False
        )
    else:
        stats = (
            postings.groupBy("doc_id")
            .agg(F.max("dl").alias("_dl"))
            .agg(F.avg("_dl").alias("_avgdl"), F.count(F.lit(1)).alias("_n"))
        ).localCheckpoint(eager=False)
    qterms = queries.select(
        F.col(qid_col).alias("query_id"),
        F.explode(
            F.array_distinct(F.split(F.lower(F.col(qtext_col)), " "))
        ).alias("term"),
    ).filter(F.col("term") != "").localCheckpoint(eager=False)

    from pyspark.sql import Window as _W

    # query-relevant postings, with df and the exact per-row contribution
    # (the same formula the exhaustive path folds); materialized ONCE —
    # candidates, bounds and both phases all read it, and its lineage
    # (posting build + semi-join) must not replay per consumer. df is the
    # groupBy+broadcast-join-back form (see bm25_search_queries — the
    # vocab-bounded count exchange beats the rel-wide window sort; here
    # the double subtree evaluation lands pre-checkpoint and is paid once)
    rel0 = postings.join(hint(qterms.select("term").distinct()), ["term"])
    _dfc_tbl = rel0.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    rel = rel0.join(hint(_dfc_tbl), ["term"])
    tf = F.col("tf").cast("double")
    dfc = F.col("_df").cast("double")
    rel = (
        rel.crossJoin(hint(stats))  # 1-row stats — broadcast
        .withColumn(
            "_c",
            F.log((F.col("_n") - dfc + F.lit(0.5)) / (dfc + F.lit(0.5)) + F.lit(1.0))
            * tf
            * F.lit(k1 + 1.0)
            / (
                tf
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("_avgdl"))
            ),
        )
        .select("term", "doc_id", "_df", "_c")
        # LAZY checkpoint (r14): lineage is truncated and the RDD is
        # persisted on first computation — single evaluation across every
        # consumer, exactly as the eager form — but WITHOUT a full-job
        # driver barrier: the three serial barriers (corpus, rel, phase 1)
        # were the pruned path's dominant fixed cost at bench scale
        # (VERDICT r13 task 5); lazy folds them into the consuming job.
        .localCheckpoint(eager=False)
    )

    # per-term stats: df + the MaxScore upper bound ub(t) = max contrib
    tstats = rel.groupBy("term").agg(
        F.max("_df").alias("_df"), F.max("_c").alias("_ub")
    )
    # rarest PRESENT term per query (absent terms match nothing and
    # bound at 0); Σ ub over the query's other present terms
    qpresent = qterms.join(hint(tstats), ["term"])
    rw = _W.partitionBy("query_id").orderBy(F.asc("_df"), F.asc("term"))
    # |query terms|-row frame read by two consumers (rarest, ubsum),
    # each otherwise replaying the tstats aggregate over rel
    qmeta = qpresent.withColumn("_rn", F.row_number().over(rw)).localCheckpoint(
        eager=False
    )
    rarest = qmeta.filter(F.col("_rn") == 1).select(
        "query_id", F.col("term").alias("_rterm")
    )
    ubsum = (
        qmeta.filter(F.col("_rn") > 1)
        .groupBy("query_id")
        .agg(F.sum("_ub").alias("_ubsum"))
    )

    def full_scores(match):
        # match: (query_id, doc_id, _c) rows — every matching (q, d, t);
        # identical sorted-fold + rounding as the exhaustive path, via
        # the window fold (functions/fold.py — bit-equal, no object agg).
        # query_id-only exchange: the theta/final rank windows reuse it
        from kafka_streams_demo_spark.functions.fold import sorted_fold_sum

        return sorted_fold_sum(
            match,
            ["query_id", "doc_id"],
            F.col("_c"),
            "score",
            round_dp=6,
            shuffle_cols=["query_id"],
        )

    # PHASE 1: candidate docs (rarest-term matches), scored fully.
    # Built candidate-first — cand ⋈ rel on doc_id pulls only candidate
    # docs' posting rows, then the (query_id, term) semi-join keeps each
    # query's own terms — NEVER the exhaustive per-query term join the
    # pruning exists to avoid.
    cand = (
        rel.join(hint(rarest), rel["term"] == rarest["_rterm"])
        .select("query_id", "doc_id")
    )
    c1_match = (
        hint(cand)
        .join(rel, ["doc_id"])
        .join(hint(qterms), ["query_id", "term"], "left_semi")
    )
    # lazy for the same reason as rel: theta, the union and the phase-2
    # anti-join all read the persisted RDD; no barrier job
    p1 = full_scores(c1_match).localCheckpoint(eager=False)

    pw = _W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    p1r = p1.withColumn("_rk", F.row_number().over(pw))
    theta = (
        p1r.filter(F.col("_rk") == k)
        .select("query_id", F.col("score").alias("_theta"))
    )
    # prune iff a full top-k exists AND the other-terms bound clears it
    pruned_q = (
        theta.join(ubsum, "query_id", "left")
        .filter(
            F.coalesce(F.col("_ubsum"), F.lit(0.0))
            < F.col("_theta") - F.lit(tie_margin)
        )
        .select("query_id")
    )
    # both sides are |queries|-row frames; without the hint this anti-
    # join lands as the plan's only sort-merge join
    survivors = qterms.select("query_id").distinct().join(
        hint(pruned_q), "query_id", "left_anti"
    )

    # PHASE 2: for unpruned queries, the matching docs OUTSIDE phase 1
    m2_match = (
        rel.join(hint(qterms.join(hint(survivors), ["query_id"])), ["term"])
        .join(hint(cand), ["query_id", "doc_id"], "left_anti")
    )
    p2 = full_scores(m2_match)
    # θ-filter (exact): when the query has a full phase-1 top-k, any
    # phase-2 doc whose ROUNDED score is strictly below θ (the k-th best
    # rounded phase-1 score) is outranked by ≥ k phase-1 docs and can
    # never enter the final top-k — drop it before the union so the
    # re-rank window sorts survivors, not every phase-2 match (r13;
    # score == θ stays, ties can win on the doc_id tiebreak). Queries
    # without a θ row keep every row (coalesce to -inf).
    p2 = (
        p2.join(hint(theta), "query_id", "left")
        .filter(
            F.col("score")
            >= F.coalesce(F.col("_theta"), F.lit(float("-inf")))
        )
        .drop("_theta")
    )

    out = p1.unionByName(p2)
    w = _W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        out.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "doc_id", "score", "rk")
    )


def zipf_corpus(spark, n_docs: int, vocab: int = 5000, doc_len: int = 60):
    """Seeded Zipf-vocabulary corpus (closed-form, DuckDB-replayable —
    see :func:`zipf_corpus_cte`): the retrieval-pruning grading fixture
    the driver documents table cannot be. BASELINE.md r11 measured why:
    the fixture corpus has a 31-word near-uniform vocabulary (every term
    in ~77% of documents), so there are NO rare terms and term-bound
    pruning (MaxScore/WAND) degenerates to the exhaustive join. Real
    text is Zipf; this corpus is.

    Construction: token i of doc d is ``'w' || floor(V·u⁴)`` with
    u = (md5-60-bit(d:i)+0.5)/2^60 — the inverse-CDF power map (the
    :func:`~kafka_streams_demo_spark.functions.graph.powerlaw_edges`
    idiom), giving word-frequency exponent ≈ 0.75 with a handful of
    stopword-like heads and a long rare tail. u⁴ is spelled u·u·u·u
    (left-associated) on BOTH engines — pow() is a libm call that may
    differ in the last ulp across engines and a floor sits right after.
    Generation is a map-only pass over ``spark.range``; at any scale the
    corpus materializes distributed, no driver involvement."""
    # Two-level transform so the md5-60-bit uniform is computed ONCE per
    # token: writing `vocab * u * u * u * u` with u as an inline Python
    # expression duplicates the whole conv(substring(md5(...))) chain
    # FOUR times in the generated expression tree (Catalyst does no CSE
    # inside HOF lambdas) — 4 md5+conv per token, measured 1.11 s →
    # 0.47 s per 50k-doc pass at r13. The inner lambda binds u as a real
    # array element, multiplies the scalar, and the left-associated
    # (((vocab·u)·u)·u)·u order is preserved bit-for-bit.
    us = F.transform(
        F.sequence(F.lit(0), F.lit(doc_len - 1)),
        lambda i: (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            i.cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long").cast("double")
            + F.lit(0.5)
        )
        / F.lit(float(1 << 60)),
    )
    words = F.transform(
        us,
        lambda u: F.concat(
            F.lit("w"),
            F.floor(F.lit(float(vocab)) * u * u * u * u)
            .cast("long")
            .cast("string"),
        ),
    )
    return (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"))
        .select("doc_id", F.array_join(words, " ").alias("text"))
    )


def zipf_corpus_cte(
    n_from: str = "SELECT count(*) FROM documents",
    vocab: int = 5000,
    doc_len: int = 60,
) -> str:
    """DuckDB CTE body replaying :func:`zipf_corpus` bit-for-bit, with
    n derived from the data so the oracle follows the scale factor.
    Yields (doc_id, text)."""
    return f"""
SELECT d AS doc_id,
       array_to_string(list_transform(range(0, {doc_len}), i ->
         'w' || CAST(floor({vocab} *
           ((('0x' || substr(md5(d::VARCHAR || ':' || i::VARCHAR), 1, 15))::BIGINT + 0.5)
            / 1152921504606846976.0)
         * ((('0x' || substr(md5(d::VARCHAR || ':' || i::VARCHAR), 1, 15))::BIGINT + 0.5)
            / 1152921504606846976.0)
         * ((('0x' || substr(md5(d::VARCHAR || ':' || i::VARCHAR), 1, 15))::BIGINT + 0.5)
            / 1152921504606846976.0)
         * ((('0x' || substr(md5(d::VARCHAR || ':' || i::VARCHAR), 1, 15))::BIGINT + 0.5)
            / 1152921504606846976.0)
         ) AS BIGINT)), ' ') AS text
FROM (SELECT unnest(range(0, ({n_from}))) AS d)
"""


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
    keep_cols: tuple[str, ...] = (),
):
    """The published Gopher quality-filter rule bundle (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", Appendix A) as ONE row-local
    column-expression pass — the standard pre-training corpus gate:
    word-count window, mean-word-length window, #/ellipsis symbol ratio,
    bullet-started and ellipsis-ended line fractions, fraction of words
    with an alphabetic character, and the ≥2-of-8 stop-word check.
    Output: per-doc signal columns (each 6-dp rounded where fractional,
    so the keep cut is engine-deterministic) + the composite ``keep``.
    Thresholds are the paper's defaults, overridable per corpus.

    100 TB design: pure column expressions — an embarrassingly parallel
    map stage inside WholeStageCodegen, zero shuffle, composable with
    pipeline_keeplist/ingest_keeplist as an extra gate predicate.

    ``keep_cols``: input columns carried through to the output — a
    composition that needs them (the cleaning stack keeps the cleaned
    text) would otherwise join this output back to its input on doc_id,
    re-evaluating the caller's whole upstream chain per branch (r13:
    the clean-corpus pipeline ran C4 twice that way)."""
    words = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    lines = F.split(F.col(text_col), "\n")
    n_words = F.size(words)
    nz = F.nullif(n_words.cast("double"), F.lit(0.0))
    n_lines = F.nullif(F.size(lines).cast("double"), F.lit(0.0))
    mean_wl = F.round(
        F.aggregate(words, F.lit(0), lambda a, x: a + F.length(x)).cast("double")
        / nz,
        6,
    )
    n_hash = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "#", "")
    )
    n_ellipsis = F.size(
        F.split(F.col(text_col), r"\.\.\.|…")
    ) - F.lit(1)
    symbol_ratio = F.round((n_hash + n_ellipsis).cast("double") / nz, 6)
    bullet_frac = F.round(
        F.size(
            F.filter(
                lines,
                lambda l: l.rlike(r"^\s*[\-\*•]"),
            )
        ).cast("double")
        / n_lines,
        6,
    )
    ellipsis_frac = F.round(
        F.size(
            F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
        ).cast("double")
        / n_lines,
        6,
    )
    alpha_frac = F.round(
        F.size(F.filter(words, lambda x: x.rlike("[a-zA-Z]"))).cast("double") / nz,
        6,
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(words, F.lower)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in keep_cols],
        n_words.cast("long").alias("n_words"),
        F.coalesce(mean_wl, F.lit(0.0)).alias("mean_word_len"),
        F.coalesce(symbol_ratio, F.lit(0.0)).alias("symbol_ratio"),
        F.coalesce(bullet_frac, F.lit(0.0)).alias("bullet_frac"),
        F.coalesce(ellipsis_frac, F.lit(0.0)).alias("ellipsis_frac"),
        F.coalesce(alpha_frac, F.lit(0.0)).alias("alpha_frac"),
        n_stop.cast("long").alias("n_stopwords"),
    )
    keep = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("symbol_ratio") < max_symbol_ratio)
        & (F.col("bullet_frac") < max_bullet_frac)
        & (F.col("ellipsis_frac") < max_ellipsis_frac)
        & (F.col("alpha_frac") >= min_alpha_frac)
        & (F.col("n_stopwords") >= min_stopwords)
    )
    return out.withColumn("keep", keep)


def c4_line_clean(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_words: int = 3,
    banned_words: tuple[str, ...] = ("javascript",),
    page_banned: tuple[str, ...] = ("{", "lorem ipsum"),
):
    """The published C4 line-level cleaning rules (Raffel et al. 2019,
    §2.2) as one row-local pass: keep only lines that end in terminal
    punctuation (. ! ? "), carry at least ``min_line_words`` words, and
    don't mention a banned word (the paper drops 'javascript' lines);
    pages containing a page-level banned marker ('{' code fence, 'lorem
    ipsum') are dropped wholesale. Output: (doc_id, n_lines, n_kept,
    page_ok, new_text) — new_text is the kept lines rejoined in order
    ('' when the page is dropped). Pairs with paragraph_dedup (the
    paper's three-sentence dedup) and gopher_quality for the full
    cleaning stack.

    100 TB design: pure higher-order column expressions over the line
    array — zero shuffle, embarrassingly parallel."""
    lines = F.split(F.col(text_col), "\n")
    low = F.lower(F.col(text_col))
    page_ok = ~F.lit(False)
    for marker in page_banned:
        page_ok = page_ok & ~low.contains(marker)

    def line_ok(l):
        ok = l.rlike(r'[.!?"]\s*$')
        ok = ok & (
            F.size(F.filter(F.split(F.trim(l), " "), lambda x: x != ""))
            >= min_line_words
        )
        for w in banned_words:
            ok = ok & ~F.lower(l).contains(w)
        return ok

    kept = F.filter(lines, line_ok)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.when(page_ok, F.size(kept)).otherwise(F.lit(0)).cast("long").alias("n_kept"),
        page_ok.alias("page_ok"),
        F.when(page_ok, F.array_join(kept, "\n")).otherwise(F.lit("")).alias("new_text"),
    )


# (threshold, kind) per the published Gopher table: top-n-gram char
# fraction for n=2..4, duplicated-n-gram char fraction for n=5..10
GOPHER_TOP_NGRAM_LIMITS = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_LIMITS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
# cnt*_ENC + charlen encodes (cnt, charlen) lexicographically; charlen is
# clamped to _ENC-1 so a pathological ≥100k-char n-gram can no longer wrap
# into the count field (it under-reports that gram's char coverage instead
# of corrupting the election/sums — documented bound).
_ENC = 100_000


def _make_gopher_rep_arrow(
    top_limits: dict, dup_limits: dict, enc: int,
    max_dlf: float, max_dlcf: float,
):
    """Factory for the gopher_repetition kernel (by-value closure for
    worker safety). Pinned against the catalog entry's DuckDB oracle:
    every signal is a count over DISTINCT grams, so numpy `unique` over
    id-windows (plus prefix-sum char lengths) replaces string
    materialization entirely; rounding replays Spark's BigDecimal
    HALF_UP via `decimal`. Docs whose words contain '_' fall back to
    joined-string counting per doc (the '_' join makes id-tuples and
    strings non-bijective there)."""

    def run(it):
        from collections import Counter
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np
        import pandas as pd

        q6 = Decimal("0.000001")

        def rnd6(x: float) -> float:
            return float(Decimal(x).quantize(q6, rounding=ROUND_HALF_UP))

        ns = sorted(set(top_limits) | set(dup_limits))
        cap = enc - 1
        names = (
            ["dup_line_frac", "dup_line_char_frac"]
            + [f"top{n}gram_char_frac" for n in top_limits]
            + [f"dup{n}gram_char_frac" for n in dup_limits]
        )
        for pdf in it:
            out = {k: [] for k in ["doc_id", *names, "keep"]}
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                text = t if isinstance(t, str) else ""
                tc = len(text)
                lines = text.split("\n")
                lc = Counter(lines)
                dlf = rnd6((len(lines) - len(lc)) / len(lines))
                dlc = sum(c * len(v) for v, c in lc.items() if c > 1)
                dlcf = rnd6(min(1.0, dlc / tc)) if tc else 0.0
                words = [w for w in text.split(" ") if w]
                L = len(words)
                slow = any("_" in w for w in words)
                big = L > 2000 and not slow
                if big:
                    _, ids = np.unique(words, return_inverse=True)
                    ids = np.ascontiguousarray(ids, dtype=np.int64)
                    wl = np.fromiter((len(w) for w in words), np.int64, L)
                    cs = np.concatenate(([0], np.cumsum(wl)))
                sigs = {}
                for n in ns:
                    if L < n:
                        sigs[n] = (0.0, 0.0)
                        continue
                    if big:
                        # numpy path: unique over id-windows + prefix-sum
                        # char lengths — per-call numpy overhead amortizes
                        # only on long docs
                        m = np.lib.stride_tricks.sliding_window_view(ids, n)
                        v = np.ascontiguousarray(m).view(
                            [("", m.dtype)] * n
                        ).ravel()
                        _, fidx, counts = np.unique(
                            v, return_index=True, return_counts=True
                        )
                        glens = np.minimum(cs[fidx + n] - cs[fidx] + (n - 1), cap)
                        top = int(np.max(counts * enc + glens))
                        dupc = int(
                            np.sum(np.where(counts > 1, counts * glens, 0))
                        )
                    else:
                        # short docs (the web-corpus common case): tuple /
                        # joined-string Counters beat numpy's fixed setup
                        # cost; tuples are join-bijective absent '_'
                        if slow:
                            g = Counter(
                                "_".join(words[i:i + n])
                                for i in range(L - n + 1)
                            )
                            items = [(c, min(len(k), cap)) for k, c in g.items()]
                        else:
                            # zip-of-offset-slices builds the window
                            # tuples in C — no per-window Python slicing
                            g = Counter(zip(*(words[j:] for j in range(n))))
                            items = [
                                (c, min(sum(map(len, k)) + n - 1, cap))
                                for k, c in g.items()
                            ]
                        top = max(c * enc + gl for c, gl in items)
                        dupc = sum(c * gl for c, gl in items if c > 1)
                    top_frac = rnd6(((top // enc) * (top % enc)) / tc)
                    sigs[n] = (top_frac, rnd6(min(1.0, dupc / tc)))
                row = {"dup_line_frac": dlf, "dup_line_char_frac": dlcf}
                for n in top_limits:
                    row[f"top{n}gram_char_frac"] = sigs[n][0]
                for n in dup_limits:
                    row[f"dup{n}gram_char_frac"] = sigs[n][1]
                keep = dlf <= max_dlf and dlcf <= max_dlcf
                for n, lim in top_limits.items():
                    keep = keep and row[f"top{n}gram_char_frac"] <= lim
                for n, lim in dup_limits.items():
                    keep = keep and row[f"dup{n}gram_char_frac"] <= lim
                out["doc_id"].append(doc_id)
                for k in names:
                    out[k].append(row[k])
                out["keep"].append(keep)
            yield pd.DataFrame(out)

    return run


def gopher_repetition(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
):
    """The repetition half of the published Gopher filter table (Rae et
    al. 2021, Appendix A1.2), completing ``gopher_quality``: fraction of
    duplicate lines, fraction of characters in duplicate lines, the
    most-frequent-n-gram character fraction for n=2..4 (paper limits
    0.20/0.18/0.16) and the duplicated-n-gram character fraction for
    n=5..10 (0.15 down to 0.10). Word n-grams; character coverage is the
    standard approximation Σ count·charlen / total_chars (clamped to 1 —
    overlaps are not geometrically de-duplicated; documented, applied
    identically in the oracle). Top-gram tie-break: (count, charlen)
    lexicographic max, engine-deterministic via the cnt·10⁵+len integer
    encoding (charlen clamped to 10⁵−1 so a pathological gram cannot wrap
    into the count field). NULL text scores like empty text. Output: all
    signal columns (6-dp) + composite ``keep``.

    100 TB design: one row-local ``mapInPandas`` pass, LINEAR per
    document — Counter / numpy ``unique`` over word-id windows, never a
    per-distinct-gram scan of the document. The Python node is opaque to
    Catalyst, so a ``.filter("keep")`` on the output cannot push a
    substituted expression below it. Tested against the catalog entry's
    DuckDB oracle on boundary documents."""
    from kafka_streams_demo_spark.functions.spread import spread

    # single-small-file corpus scans are ONE partition — the whole
    # per-doc pass ran on one core (2.4 → 0.55 s at sf0.1; no-op on
    # real-scale scans — functions/spread.py)
    docs = spread(docs.select(F.col(id_col), F.col(text_col)))
    fn = _make_gopher_rep_arrow(
        dict(GOPHER_TOP_NGRAM_LIMITS), dict(GOPHER_DUP_NGRAM_LIMITS),
        _ENC, max_dup_line_frac, max_dup_line_char_frac,
    )
    schema = (
        "doc_id long, dup_line_frac double, dup_line_char_frac double, "
        + ", ".join(f"top{n}gram_char_frac double"
                    for n in GOPHER_TOP_NGRAM_LIMITS) + ", "
        + ", ".join(f"dup{n}gram_char_frac double"
                    for n in GOPHER_DUP_NGRAM_LIMITS)
        + ", keep boolean"
    )
    return docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).mapInPandas(fn, schema)


def char_gram_index(
    docs, n: int = 4, id_col: str = "doc_id", text_col: str = "text"
):
    """Positional character n-gram index: (doc_id, gram, pos) — one row
    per character position, the code-search-style inverted index for
    EXACT SUBSTRING queries over a corpus too big to scan. Row-local
    construction (bound-attribute ``substr`` over a position sequence —
    the HOF contract); persist it bucketed by ``gram`` like
    write_bm25_postings so query joins read their distribution from
    storage. Deterministic per doc → delta batches compose by append,
    the same incremental contract as the BM25/minhash/IVF tiers."""
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("_s"),
    ).select("doc_id", "_s", F.length("_s").alias("_len"))
    return (
        d.where(F.col("_len") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("_len") - n),
                    lambda i: F.struct(
                        F.col("_s").substr(i + 1, F.lit(n)).alias("gram"),
                        i.cast("long").alias("pos"),
                    ),
                )
            ).alias("_g"),
        )
        .select("doc_id", F.col("_g.gram").alias("gram"), F.col("_g.pos").alias("pos"))
    )


def substring_find(
    docs,
    query: str,
    n: int = 4,
    index=None,
    rarest_k: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Every occurrence of ``query`` (lowercased, len ≥ n) across the
    corpus: (doc_id, start), 0-based — WITHOUT scanning documents at
    query time when ``index`` (a persisted ``char_gram_index``) is given.

    Candidate generation joins the query's n-grams at stride-n offsets
    (plus the tail gram at len−n): those windows COVER every query
    character, so a (doc, start) matching ALL of them IS an occurrence —
    no verification pass, zero false positives by construction. The
    count-equality groupBy is the only shuffle, keyed on (doc, start).

    ``rarest_k``: production mode for hot-gram skew — generate
    candidates from only the k lowest-df stride grams (df computed from
    the index itself — rare grams bound join traffic the way real code
    search picks selective trigrams), then VERIFY each candidate against
    the doc text (coverage no longer proven, so a row-local substr
    equality re-join eliminates false positives). Parity with full-
    stride mode is pinned in tests."""
    q = query.lower()
    L = len(q)
    if L < n:
        raise ValueError(f"query shorter than gram size {n}")
    if rarest_k is not None and docs is None:
        raise ValueError("rarest_k mode verifies against docs — pass docs")
    if index is None:
        index = char_gram_index(docs, n, id_col, text_col)
    offs = sorted(set(range(0, L - n + 1, n)) | {L - n})
    grams = [(q[o : o + n], o) for o in offs]
    if rarest_k is not None:
        gdf = (
            index.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("gram").isin([g for g, _ in grams]))
        )
        dfs = {r["gram"]: r["_df"] for r in gdf.collect()}  # ≤ L/n rows
        grams = sorted(grams, key=lambda go: (dfs.get(go[0], 0), go[1]))[:rarest_k]
    gram_tbl = F.broadcast(
        docs.sparkSession.createDataFrame(grams, "gram string, off long")
        if docs is not None
        else index.sparkSession.createDataFrame(grams, "gram string, off long")
    )
    cand = (
        index.join(gram_tbl, "gram")
        .where(F.col("pos") >= F.col("off"))
        .select("doc_id", (F.col("pos") - F.col("off")).alias("start"))
        .groupBy("doc_id", "start")
        .agg(F.count(F.lit(1)).alias("_hits"))
        .where(F.col("_hits") == len(grams))
        .select("doc_id", "start")
    )
    if rarest_k is None:
        return cand
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("_s"),
    )
    return (
        cand.join(d, "doc_id")
        .where(F.col("_s").substr(F.col("start") + 1, F.lit(L)) == q)
        .select("doc_id", "start")
    )


def token_drift_kl(docs_a, docs_b, text_col: str = "text", k: int = 20):
    """Corpus drift monitor: per-token contribution to KL(A ‖ B) between
    two snapshots' unigram distributions (Laplace-smoothed over the
    joint vocabulary), top-k positive contributors — the tokens newly
    OVER-represented in A, the first thing a data-quality dashboard
    shows when an ingest source goes bad. Output: (token, c_a, c_b,
    kl_term) with kl_term rounded to 6 dp, ordered (kl_term DESC,
    token).

    100 TB shape: two map-side-combined count aggregates, one term-keyed
    full-outer join, totals from ONE more aggregate over the vocab-sized
    join output (broadcast back), top-k as TakeOrdered. Nothing
    corpus-sized moves; everything downstream of the counts is
    vocab-bounded."""
    def counts(d, name):
        return (
            d.select(
                F.explode(
                    F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " ")
                ).alias("token")
            )
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias(name))
        )

    joined = (
        counts(docs_a, "c_a")
        .join(counts(docs_b, "c_b"), "token", "full_outer")
        .select(
            "token",
            F.coalesce("c_a", F.lit(0)).alias("c_a"),
            F.coalesce("c_b", F.lit(0)).alias("c_b"),
        )
    )
    stats = joined.agg(
        F.sum("c_a").alias("n_a"),
        F.sum("c_b").alias("n_b"),
        F.count(F.lit(1)).alias("v"),
    )
    p = (F.col("c_a") + 1).cast("double") / (F.col("n_a") + F.col("v")).cast("double")
    q = (F.col("c_b") + 1).cast("double") / (F.col("n_b") + F.col("v")).cast("double")
    return (
        joined.crossJoin(F.broadcast(stats))  # 1-row totals
        .select(
            "token", "c_a", "c_b",
            F.round(p * F.log(p / q), 6).alias("kl_term"),
        )
        .orderBy(F.desc("kl_term"), F.asc("token"))
        .limit(k)
    )


def tfidf_doc_pairs(
    docs: DataFrame,
    threshold: float = 0.3,
    max_doc_freq: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sparse tf-idf cosine similarity between documents — the LEXICAL
    sibling of embedding_cosine_pairs: docs are sparse vectors in term
    space, pairs generated by the inverted index (postings self-join on
    term), cosine folded exactly. Returns (i, j, cosine) with i < j and
    cosine >= threshold, 6dp.

    Determinism for the hash gate: idf = ln((1+N)/(1+df_t)) + 1
    (sklearn-smooth; identical literal arithmetic in the oracle), and
    every float reduction — the norm's sum of squares and the pair dot
    product — folds in SORTED order (cross-engine float-sum rule).

    Scale: the term self-join is the classic df_t^2 blowup;
    ``max_doc_freq`` drops terms with df_t above the cap from the TERM
    SPACE ITSELF (norms and dots both — the cosine stays a true cosine
    in the reduced space, and the oracle replays the same cap). This is
    the same hot-key guard as the shingle/minhash tiers: ubiquitous
    terms carry ~zero idf weight but quadratic join cost."""
    N_row = docs.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    toks = docs.select(
        F.col(id_col).alias("d"),
        F.explode(
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " ")
        ).alias("t"),
    ).filter(F.col("t") != "")
    tf = toks.groupBy("d", "t").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).cast("double").alias("dft"))
    if max_doc_freq is not None:
        dfreq = dfreq.filter(F.col("dft") <= F.lit(float(max_doc_freq)))
    # persist the weighted postings: norms and BOTH pair-join sides read
    # this frame, and Catalyst replans its whole upstream (tokenize → tf
    # aggregate → df aggregate → joins) per reference (the r9 minhash
    # lesson — 3× the corpus work and 3× the exchanges without it). At
    # scale this is the tf-idf index a production pipeline materializes
    # once per corpus anyway; released with dedup.release_caches().
    from kafka_streams_demo_spark.functions.dedup import _track_cache

    w = (
        tf.join(dfreq, "t")
        .crossJoin(N_row)
        .select(
            "d",
            "t",
            (
                F.col("tf")
                * (
                    F.log((F.lit(1.0) + F.col("_n")) / (F.lit(1.0) + F.col("dft")))
                    + F.lit(1.0)
                )
            ).alias("w"),
        )
        .persist()
    )
    _track_cache(w)
    norms = w.groupBy("d").agg(
        F.sqrt(
            F.aggregate(
                F.array_sort(F.collect_list(F.col("w") * F.col("w"))),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("nrm")
    )
    a = w.select(F.col("d").alias("i"), "t", F.col("w").alias("wa"))
    b = w.select(F.col("d").alias("j"), "t", F.col("w").alias("wb"))
    dots = (
        a.join(b, "t")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.col("wa") * F.col("wb"))),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dot")
        )
    )
    ni = norms.withColumnsRenamed({"d": "i", "nrm": "ni"})
    nj = norms.withColumnsRenamed({"d": "j", "nrm": "nj"})
    out = (
        dots.join(ni, "i")
        .join(nj, "j")
        .select(
            "i",
            "j",
            F.round(F.col("dot") / (F.col("ni") * F.col("nj")), 6).alias("cosine"),
        )
    )
    return out.filter(F.col("cosine") >= F.lit(threshold))
