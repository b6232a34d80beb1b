"""Text-analysis operators for large-scale training-data pipelines.

Default posture: pure ``pyspark.sql.functions`` expressions (JVM-side,
codegen), SQL-expressible so the DuckDB oracle can cross-check them.
The documented exceptions are Arrow-batched map passes for things the
JVM has no column function for (unicodedata normalization, zlib
compression ratio, the BPE merge loop) — always ``mapInPandas``/
``pandas_udf``, never row-at-a-time Python, always zero-shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["tokenize", "token_count", "quality_score", "language_id",
           "fingerprint", "normalize_text", "repetition_metrics",
           "token_count_bpe", "temperature_fractions", "temperature_resample",
           "pack_sequences", "redact_pii", "gopher_quality_filter",
           "c4_quality_filter", "token_vocab", "fix_mojibake",
           "mojibake_repairs", "mojibake_sql_expr", "bpe_pair_counts",
           "bpe_train", "bpe_encode", "bpe_encode_expr",
           "normalize_unicode", "compression_ratio"]

# tiny per-language stopword markers for the n-gram/stopword language
# heuristic — deterministic and cheap, not a real LID model
_LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " les "],
    "es": [" el ", " y ", " los "],
    "zh": ["的", "了", "是"],
}

_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")


def tokenize(text: Column) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count(df: DataFrame, text_col: str = "text") -> Column:
    return F.size(tokenize(F.col(text_col))).alias("n_tokens")


def normalize_text(text: Column) -> Column:
    """Lowercase + collapse whitespace; used by fingerprint/dedup."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of normalized text."""
    return F.md5(normalize_text(text))


def quality_score(df: DataFrame, text_col: str = "text",
                  round_to: int = 6) -> DataFrame:
    """Length/punctuation/stopword-ratio quality features per document.

    * ``punct_ratio``  — punctuation chars / total chars
    * ``stop_ratio``   — stopword tokens / tokens
    * ``mean_tok_len`` — avg token length
    """
    text = F.col(text_col)
    toks = F.array_remove(F.split(text, r"\s+"), "")  # native tokenize
    n_tok = F.size(toks)
    n_chars = F.length(text)
    punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(*_STOPWORDS)))
    # sum of token lengths natively (lambda aggregates are interpreted)
    mean_len = (F.length(F.array_join(toks, "")) / F.greatest(n_tok, F.lit(1)))
    return df.select(
        "*",
        n_tok.alias("n_tokens"),
        F.round(punct / F.greatest(n_chars, F.lit(1)), round_to).alias("punct_ratio"),
        F.round(stop / F.greatest(n_tok, F.lit(1)), round_to).alias("stop_ratio"),
        F.round(mean_len, round_to).alias("mean_tok_len"),
    )


def language_id(text: Column, scorer=None) -> Column:
    """Language identification for a text column.

    Default: the marker-count heuristic — the language whose stopword
    markers occur most often in the text ('und' = unknown on ties at
    zero). Deterministic, zero-shuffle, JVM-side — and honestly NOT a
    real LID model (5 languages, stopword markers only).

    ``scorer`` injects a real model (mirroring ops/multimodal's
    ``decoder=`` pattern): a callable ``pandas.Series[str] ->
    pandas.Series[str]`` of language codes, executed as an Arrow-batched
    pandas UDF — e.g. a fastText wrapper whose model file each executor
    loads once (keep the load lazy inside the callable, or ship weights
    via ``SparkContext.broadcast``). The UDF is marked nondeterministic
    so Catalyst never clones it below a filter (the r3 optimizer trap:
    InferFiltersFromGenerate re-ran cloned Python eval nodes over the
    whole corpus)."""
    if scorer is not None:
        from pyspark.sql.functions import pandas_udf

        def _score(s):
            import pandas as pd
            out = scorer(s)
            return out if isinstance(out, pd.Series) else pd.Series(list(out))

        udf = pandas_udf(_score, "string").asNondeterministic()
        return udf(text)
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        score = None
        for m in markers:
            # occurrence count via length difference
            cnt = ((F.length(padded) -
                    F.length(F.regexp_replace(padded, _rx(m), ""))) /
                   max(len(m), 1)).cast("int")
            score = cnt if score is None else score + cnt
        scores.append((lang, score))
    best = F.lit("und")
    best_score = F.lit(0)
    for lang, score in scores:
        cond = score > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, score).otherwise(best_score)
    return best


def _rx(s: str) -> str:
    import re as _re
    return _re.escape(s)


def _ngram_run_metrics(toks: Column, n: int) -> Column:
    """(best, dup, tot) word-``n``-gram character masses in ONE
    interpreted-lambda pass over the SORTED native-struct gram array:
    ``best`` = chars of the most frequent gram x its count (top-gram
    mass), ``dup`` = chars of occurrences past each gram's first (the
    duplicated-gram char-mass convention, matching the line metrics),
    ``tot`` = total gram chars. Grams are rendered "t1 t2 ... tn"
    (len = sum + n-1 separators). Returns a struct column."""
    N = F.size(toks)
    cnt = F.greatest(N - (n - 1), F.lit(0))
    grams = F.arrays_zip(*[F.slice(toks, i + 1, cnt) for i in range(n)])

    def plen(g):
        e = F.lit(n - 1)
        for i in range(n):
            e = e + F.length(g[str(i)])
        return e

    init = F.struct(
        F.struct(*[F.lit(None).cast("string").alias(str(i))
                   for i in range(n)]).alias("p"),
        F.lit(0).alias("run"), F.lit(0).alias("best"),
        F.lit(0).alias("dup"), F.lit(0).alias("tot"))

    def step(st, g):
        same = st["p"].eqNullSafe(g)
        run = F.when(same, st["run"] + 1).otherwise(F.lit(1))
        pl = plen(g)
        return F.struct(
            g.alias("p"), run.alias("run"),
            F.greatest(st["best"], pl * run).alias("best"),
            (st["dup"] + F.when(same, pl).otherwise(F.lit(0))).alias("dup"),
            (st["tot"] + pl).alias("tot"))

    # sort_array, NOT array_sort: array_sort's default comparator is a
    # full catalyst EXPRESSION (If(LessThan(..))) interpreted once per
    # TimSort comparison — measured pathologically slow (~10x) under
    # adverse JIT states; sort_array compares through the type's direct
    # ordering (same ascending field-lexicographic result for null-free
    # structs)
    return F.aggregate(
        F.sort_array(grams), init, step,
        lambda st: F.struct(st["best"].alias("best"), st["dup"].alias("dup"),
                            st["tot"].alias("tot")))


def repetition_metrics(df: DataFrame, text_col: str = "text",
                       ngram_tops: tuple = (2,),
                       ngram_dups: tuple = (),
                       prunable_barrier: bool = False) -> DataFrame:
    """Intra-document repetition fractions (the FULL Gopher repetition
    filter list, Rae et al. 2021 §A1.1): duplicate line AND paragraph
    fractions (by count and by character mass), the character fraction
    of the most frequent word n-gram for each n in ``ngram_tops``
    (Gopher uses 2-4), and the duplicated-n-gram character fraction for
    each n in ``ngram_dups`` (Gopher uses 5-10; char-mass convention —
    occurrences past each gram's first — rather than position coverage).
    Column names: ``top_bigram_char_frac`` for n=2 (compat), else
    ``top_{n}gram_char_frac`` / ``dup_{n}gram_char_frac``.

    Everything is computed per row — at 100 TB this is a pure map-side
    pass: zero shuffle, no Python (plan-gated). Higher-order lambda
    expressions are CodegenFallback (interpreted per element), so the
    hot arrays use NATIVE expressions only and exactly ONE lambda pass
    runs per requested n (the run-length aggregate over the sorted
    native-struct gram array — cost scales linearly with
    len(ngram_tops | ngram_dups)). The first formulation
    (count-per-distinct inside a lambda, O(distinct x n) interpreted)
    measured 40s on 200k real pages; this shape ~3s per n. An
    explode->groupBy formulation would shuffle (doc_id, gram) pairs for
    a metric that never crosses documents.
    """
    text = F.col(text_col)
    # lines/paragraphs: tiny arrays (a handful per page) — lambdas fine
    lines = F.filter(F.split(text, r"\n"), lambda l: F.trim(l) != "")
    paras = F.filter(F.transform(F.split(text, r"\n{2,}"),
                                 lambda p: F.trim(p)),
                     lambda p: p != "")
    # tokens: native only (array_remove drops the empty-string artifacts)
    toks = F.array_remove(F.split(F.lower(text), r"\s+"), "")

    def _chars(arr):
        return F.length(F.array_join(arr, ""))

    def _dup_count(arr):
        # elements beyond each value's first occurrence
        return F.size(arr) - F.size(F.array_distinct(arr))

    def _dup_char_mass(arr):
        # characters of occurrences past the first == total - distinct mass
        return _chars(arr) - _chars(F.array_distinct(arr))

    nz = lambda c, denom: F.when(denom > 0, c / denom).otherwise(F.lit(0.0))
    line_cols = [
        nz(_dup_count(lines), F.size(lines)).alias("dup_line_frac"),
        nz(_dup_char_mass(lines), _chars(lines)).alias("dup_line_char_frac"),
        nz(_dup_count(paras), F.size(paras)).alias("dup_para_frac"),
        nz(_dup_char_mass(paras), _chars(paras)).alias("dup_para_char_frac"),
    ]
    ns = sorted(set(ngram_tops) | set(ngram_dups))
    if not ns:
        return df.select("*", *line_cols)
    # the per-n aggregates go behind an explode(array(..)) Generate
    # barrier: FilterExec/ProjectExec perform no subexpression
    # elimination on interpreted aggregates, so referencing the metric
    # struct 2-3x per n (best/dup/tot) would re-run the whole lambda
    # pass each time — measured 12.5s -> 2.1s (top-2 only) and 49s ->
    # 8.8s (n=2,3,4,5) on 200k pages.
    #
    # ``prunable_barrier=True`` swaps the Generate for a
    # NONDETERMINISTIC guard projection (`when(rand() < 2, metrics)` —
    # value identical, always the struct): CollapseProject refuses to
    # re-inline nondeterministic expressions (same single-evaluation
    # guarantee), but unlike a Generate node — which must run its
    # generator on every row even when the output is pruned — an
    # unreferenced projection column IS removed by ColumnPruning, so a
    # consumer that never reads the n-gram metrics (e.g. the facade
    # with vacuous thresholds) skips the whole lambda pass. The cost:
    # predicates cannot push below a nondeterministic projection while
    # the column survives, so the DEFAULT stays the Generate barrier,
    # which keeps cheap filter conjuncts pushing below the n-gram pass.
    metrics = F.struct(*[_ngram_run_metrics(toks, n).alias(f"n{n}")
                         for n in ns])
    if prunable_barrier:
        barrier = df.select("*", *line_cols,
                            F.when(F.rand() < 2.0, metrics).alias("__ngr"))
    else:
        barrier = df.select("*", *line_cols,
                            F.explode(F.array(metrics)).alias("__ngr"))
    cols = []
    for n in ns:
        m = F.col("__ngr")[f"n{n}"]
        if n in ngram_tops:
            name = ("top_bigram_char_frac" if n == 2
                    else f"top_{n}gram_char_frac")
            cols.append(nz(m["best"], m["tot"]).alias(name))
        if n in ngram_dups:
            cols.append(nz(m["dup"], m["tot"])
                        .alias(f"dup_{n}gram_char_frac"))
    return barrier.select("*", *cols).drop("__ngr")


_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# published Gopher repetition thresholds (Rae et al. 2021, Table A1):
# max char fraction of the most frequent {2,3,4}-gram, and of duplicated
# {5..10}-grams
GOPHER_TOP_NGRAM = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def gopher_quality_filter(df: DataFrame, text_col: str = "text",
                          min_words: int = 50, max_words: int = 100_000,
                          min_mean_word_len: float = 3.0,
                          max_mean_word_len: float = 10.0,
                          max_symbol_word_ratio: float = 0.1,
                          min_stop_hits: int = 2,
                          max_dup_line_frac: float = 0.30,
                          max_top_bigram_char_frac: float = 0.20,
                          stopwords: tuple = _GOPHER_STOPWORDS,
                          ngram_top_thresholds: dict | None = None,
                          ngram_dup_thresholds: dict | None = None,
                          max_dup_para_frac: float | None = None,
                          max_dup_para_char_frac: float | None = None) -> DataFrame:
    """Composite Gopher-rule quality gate (Rae et al. 2021 §A1.1, the
    public document-filter list): word count, mean word length, symbol-
    to-word ratio (# and ellipses), required-stopword hits (>=2 of
    the/be/to/of/and/that/have/with — override ``stopwords`` for
    non-English corpora), and the repetition fractions. Adds one ``ok_*``
    bit per rule plus the conjunction ``keep``. Pass
    ``ngram_top_thresholds=GOPHER_TOP_NGRAM`` /
    ``ngram_dup_thresholds=GOPHER_DUP_NGRAM`` (or any {n: max_frac}
    subset) to enable the published per-n repetition rules — each adds
    one ``ok_top_{n}gram`` / ``ok_dup_{n}gram`` bit and one map-side
    lambda pass per distinct n.

    Scale shape: pure map-side composition of :func:`quality_score` and
    :func:`repetition_metrics` plus native expressions — zero shuffle, no
    Python, one row in = one row out, so it pipelines with the scan. All
    rule inputs are integer-ratio doubles, so an external SQL oracle
    reproduces the bits bit-for-bit (IEEE division of the same ints)."""
    from functools import reduce

    tops = dict(ngram_top_thresholds or {})
    dups = dict(ngram_dup_thresholds or {})
    # if EVERY n-gram rule threshold is vacuous (>= 1.0 — see the
    # constant folding below), no rule filters on the n-gram metrics:
    # use the prunable barrier so a consumer that also ignores the
    # metric COLUMNS (the facade's pass-through configuration) never
    # pays the per-n interpreted lambda pass. With any real n-gram
    # rule the Generate barrier stays — it lets the cheap rules'
    # filter conjuncts push below the n-gram pass.
    ngram_rule_thresholds = ([max_top_bigram_char_frac]
                             + [t for n, t in tops.items() if n != 2]
                             + list(dups.values()))
    all_vacuous = all(t >= 1.0 for t in ngram_rule_thresholds)
    out = repetition_metrics(quality_score(df, text_col), text_col,
                             ngram_tops=tuple({2} | set(tops)),
                             ngram_dups=tuple(dups),
                             prunable_barrier=all_vacuous)
    text = F.col(text_col)
    toks_lower = F.array_remove(F.split(F.lower(text), r"\s+"), "")
    stop_hits = F.size(F.array_intersect(
        toks_lower, F.array(*[F.lit(w) for w in stopwords])))
    symbols = F.regexp_count(text, F.lit(r"#|\.\.\."))
    n_tok = F.col("n_tokens")
    # vacuous-threshold constant folding: every repetition fraction is
    # in [0, 1] BY CONSTRUCTION (dup mass <= total mass, top-gram mass
    # <= total gram mass; zero denominators yield 0.0, never NULL), so
    # a threshold >= 1.0 is provably always satisfied — emit lit(True)
    # and let column pruning drop the whole (interpreted-lambda) n-gram
    # pass when nothing else references the metric. Likewise
    # min_stop_hits <= 0: the intersect size is >= 0 for any non-NULL
    # text (and NULL text yields NULL under both forms — preserved).
    # Catalyst cannot do this fold itself (it cannot bound the
    # aggregate), and a pass-through configuration would otherwise pay
    # the full metric computation for an always-true bit.
    def _frac_rule(col_name: str, thr: float) -> Column:
        if thr >= 1.0:
            return F.lit(True)
        return F.col(col_name) <= thr

    if min_stop_hits <= 0:
        ok_stop = F.when(text.isNotNull(), F.lit(True))
    else:
        ok_stop = stop_hits >= min_stop_hits
    rules = {
        "ok_word_count": (n_tok >= min_words) & (n_tok <= max_words),
        "ok_mean_word_len": ((F.col("mean_tok_len") >= min_mean_word_len)
                             & (F.col("mean_tok_len") <= max_mean_word_len)),
        "ok_symbol_ratio": (symbols / F.greatest(n_tok, F.lit(1))
                            <= max_symbol_word_ratio),
        "ok_stopwords": ok_stop,
        "ok_dup_lines": _frac_rule("dup_line_frac", max_dup_line_frac),
        "ok_top_bigram": _frac_rule("top_bigram_char_frac",
                                    max_top_bigram_char_frac),
    }
    for n, thr in sorted(tops.items()):
        if n == 2:  # covered by ok_top_bigram / max_top_bigram_char_frac
            continue
        rules[f"ok_top_{n}gram"] = _frac_rule(f"top_{n}gram_char_frac", thr)
    for n, thr in sorted(dups.items()):
        rules[f"ok_dup_{n}gram"] = _frac_rule(f"dup_{n}gram_char_frac", thr)
    # published paragraph rules (Gopher: 0.30 / 0.20), opt-in
    if max_dup_para_frac is not None:
        rules["ok_dup_paras"] = F.col("dup_para_frac") <= max_dup_para_frac
    if max_dup_para_char_frac is not None:
        rules["ok_dup_para_chars"] = (F.col("dup_para_char_frac")
                                      <= max_dup_para_char_frac)
    out = out.select("*", *[c.alias(name) for name, c in rules.items()])
    keep = reduce(lambda a, b: a & b, [F.col(name) for name in rules])
    return out.withColumn("keep", keep)


# GPT-2-style pre-tokenizer shape: contraction suffixes, space-prefixed
# letter runs, space-prefixed digit runs, space-prefixed punctuation runs,
# residual whitespace (public pattern family, Radford et al. 2019)
_BPE_ISH = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def token_count_bpe(df: DataFrame, text_col: str = "text") -> Column:
    """BPE-ish token count: one native regexp_count pass (JVM, no Python),
    the standard quick estimate of LLM token mass per document."""
    return F.regexp_count(F.col(text_col), F.lit(_BPE_ISH)).alias("n_bpe_tokens")


def temperature_fractions(df: DataFrame, group_col: str,
                          temperature: float,
                          max_groups: int = 10_000) -> dict:
    """Per-group sampling fractions for temperature-based corpus mixing
    (the standard LLM data-mix reweighting: target share ~ p^(1/T);
    T=1 keeps the natural mix, T->inf approaches uniform).

    Returns {group: fraction-to-KEEP} scaled so the largest fraction is
    1.0 (pure downsampling — without-replacement sampleBy cannot
    upsample; feed the fractions to :func:`temperature_resample`).
    Driver-side state is one row per group — the intended use is
    SOURCE mixing (tens of groups: lang, domain, crawl snapshot).
    ``max_groups`` guards against accidentally passing a
    high-cardinality column (url, doc_id): the count is collected
    through a LIMIT so the driver never materializes more than
    ``max_groups + 1`` rows, and exceeding the bound raises instead of
    silently building a multi-GB fraction dict the sampleBy plan would
    then ship to every task."""
    rows = df.groupBy(group_col).count().limit(max_groups + 1).collect()
    if len(rows) > max_groups:
        raise ValueError(
            f"temperature_fractions: {group_col!r} has more than "
            f"{max_groups} distinct groups — this operator is for "
            f"source-level mixing (tens of groups); pass a coarser "
            f"group column or raise max_groups explicitly")
    total = sum(r["count"] for r in rows) or 1
    inv_t = 1.0 / float(temperature)
    weights = {r[group_col]: (r["count"] / total) ** inv_t for r in rows}
    z = sum(weights.values()) or 1.0
    # keep-fraction implementing the target share, then rescale so the
    # most-kept group passes through untouched
    frac = {g: (weights[g] / z) / (rows_count / total)
            for g, rows_count in ((r[group_col], r["count"]) for r in rows)}
    peak = max(frac.values()) if frac else 1.0
    return {g: min(f / peak, 1.0) for g, f in frac.items()}


def temperature_resample(df: DataFrame, group_col: str, temperature: float,
                         seed: int = 7,
                         max_groups: int = 10_000) -> DataFrame:
    """Deterministic stratified resample of ``df`` to the temperature-T
    mix: one count pass (driver holds |groups| fractions, bounded by
    ``max_groups`` — see :func:`temperature_fractions`), then a single
    map-side ``sampleBy`` — no shuffle of data rows."""
    fractions = temperature_fractions(df, group_col, temperature,
                                      max_groups=max_groups)
    return df.sampleBy(group_col, fractions, seed=seed)


def pack_sequences(df: DataFrame, token_col: str, budget: int,
                   pack_col: str = "pack_id",
                   sort_by_length: bool = False) -> DataFrame:
    """Greedy next-fit packing of documents into fixed token-budget
    training sequences: adds ``pack_col`` such that the token sum within
    each pack is <= ``budget`` (a document longer than the budget gets a
    pack of its own).

    Packing is PARTITION-LOCAL by design: bins never cross partitions, so
    the pass is mapInPandas with O(1) state and zero shuffle — global
    packing would serialize the corpus for a ~budget/2 tail improvement
    per partition. Pack ids are (partition_id << 33) | local_id,
    deterministic for a deterministic partitioning (the resumable-run
    scenario).

    ``sort_by_length=True`` upgrades to next-fit-DECREASING: a
    partition-local sort (still narrow, zero shuffle) orders docs by
    token count descending first, which measurably cuts pack count /
    raises fill (the classic bin-packing result) at the cost of losing
    the input's row order inside each partition.

    The pack id is computed by an ITERATOR-form pandas UDF over just
    ``(partition_id, token_count)`` — two narrow columns cross the
    Arrow boundary and one long column comes back. The previous
    ``mapInPandas`` formulation shipped EVERY column of every row to
    Python and back (a corpus row carries documents/HTML: measured as
    the single largest cost of the facade pipeline); iterator state
    spans all batches of a task, so the running-pack semantics are
    unchanged."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    src = (df.sortWithinPartitions(F.col(token_col).desc())
           if sort_by_length else df)

    # explicit SCALAR_ITER eval type: the module uses
    # `from __future__ import annotations`, so type-hint-based
    # inference would see unresolvable string hints
    @pandas_udf("long", PandasUDFType.SCALAR_ITER)
    def _pack_ids(it):
        import pandas as pd
        local = 0
        used = None  # tokens used in the open pack; None = no pack yet
        for pids, toks in it:
            if not len(pids):
                yield pd.Series([], dtype="int64")
                continue
            pid = int(pids.iloc[0])
            ids = []
            for t in toks:
                t = int(t) if t == t else 0  # NaN-safe
                if used is None or used + t > budget:
                    local += 0 if used is None else 1
                    used = 0
                used += t
                ids.append((pid << 33) | local)
            yield pd.Series(ids, dtype="int64")

    # nondeterministic: the optimizer must never clone the stateful UDF
    # below a filter (the repo-wide Python-eval clone trap)
    pack_udf = _pack_ids.asNondeterministic()
    return (src
            .withColumn("__pid", F.spark_partition_id())
            .withColumn(pack_col, pack_udf(F.col("__pid"),
                                           F.col(token_col)))
            .drop("__pid"))


# conservative, high-precision PII patterns (the standard pre-training
# scrub: emails, phone-like number runs, IPv4s); precision over recall —
# a corpus scrub must not mangle ordinary prose
_PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:(?:25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})\.){3}"
            r"(?:25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})\b",
    "phone": r"(?<![0-9])(?:\+?[0-9]{1,3}[-. ])?(?:\([0-9]{3}\)[-. ]?"
             r"|[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}(?![0-9])",
}


def redact_pii(df: DataFrame, text_col: str = "text",
               out_col: str = "text_redacted") -> DataFrame:
    """Redact emails / IPv4s / phone-number shapes to typed placeholders
    (``<EMAIL>``, ``<IP>``, ``<PHONE>``) and count replacements per kind —
    one map-side pass of chained native regexp_replace (counts via
    regexp_count BEFORE replacement, so overlapping kinds are attributed
    to the first pattern applied, in _PII_PATTERNS order)."""
    text = F.col(text_col)
    counts = []
    redacted = text
    for kind, pat in _PII_PATTERNS.items():
        counts.append(F.regexp_count(redacted, F.lit(pat))
                      .alias(f"n_{kind}"))
        redacted = F.regexp_replace(redacted, pat,
                                    f"<{kind.upper().replace('IPV4', 'IP')}>")
    return df.select("*", *counts, redacted.alias(out_col))


C4_TERMINAL_PUNCT = (".", "!", "?", '"', "'")


def c4_quality_filter(df: DataFrame, text_col: str = "text",
                      min_line_words: int = 5, min_sentences: int = 3,
                      line_drop_terms: tuple = ("javascript",),
                      badwords: tuple = ()) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020 §2.2, the published
    Common-Crawl filter the T5 corpus was built with), line level and
    page level:

    * keep only lines that end in terminal punctuation, have at least
      ``min_line_words`` words, and do not mention any
      ``line_drop_terms`` (the paper drops lines with "javascript");
    * drop pages with fewer than ``min_sentences`` sentences after line
      filtering (sentence proxy: ``[.!?]`` before whitespace/end), pages
      containing "lorem ipsum" or "{", and pages with any token in
      ``badwords`` (the paper's dirty-word list — inject your own; an
      English list is not shipped because it is corpus-policy, not
      engine).

    Appends ``clean_text`` (retained lines, original bytes, joined with
    newlines), ``n_lines_kept``, ``n_sentences``, one ``ok_*`` bit per
    page rule and the conjunction ``keep``.

    Scale shape: pure map-side — zero shuffle, no Python, one row in =
    one row out, pipelines with the scan. The line filter is the ONE
    interpreted-lambda pass per row (CodegenFallback — same budget rule
    as repetition_metrics); everything else is native expressions.
    """
    from functools import reduce
    from operator import and_, or_

    text = F.col(text_col)

    def _line_ok(line: Column) -> Column:
        t = F.trim(line)
        words = F.size(F.array_remove(F.split(t, r"\s+"), ""))
        ends = reduce(or_, [t.endswith(F.lit(p)) for p in C4_TERMINAL_PUNCT])
        clean = reduce(and_, [~F.lower(t).contains(F.lit(term.lower()))
                              for term in line_drop_terms], F.lit(True))
        return ends & (words >= min_line_words) & clean

    kept = F.filter(F.split(text, "\n"), _line_ok)
    clean_text = F.array_join(kept, "\n")
    n_sentences = F.regexp_count(clean_text, F.lit(r"[.!?](?=\s|$)"))

    out = df.withColumns({
        "clean_text": clean_text,
        "n_lines_kept": F.size(kept),
        "n_sentences": n_sentences,
    })
    toks_lower = F.array_remove(F.split(F.lower(text), r"\s+"), "")
    rules = {
        "ok_sentences": F.col("n_sentences") >= min_sentences,
        "ok_no_lorem_ipsum": ~F.lower(text).contains("lorem ipsum"),
        "ok_no_brace": ~text.contains("{"),
        "ok_badwords": (F.size(F.array_intersect(
            toks_lower, F.array(*[F.lit(w.lower()) for w in badwords]))) == 0
            if badwords else F.lit(True)),
    }
    out = out.withColumns(rules)
    return out.withColumn(
        "keep", reduce(and_, [F.col(k) for k in rules]))


def token_vocab(df: DataFrame, text_col: str = "text",
                lowercase: bool = True, min_count: int = 1,
                top_n: int | None = None) -> DataFrame:
    """Corpus token vocabulary ``(token, n)`` — the input table for
    tokenizer training and OOV audits. Whitespace tokens (the same
    native tokenization as :func:`quality_score`), optionally
    lowercased, counted with one groupBy shuffle (map-side partial
    aggregation makes the shuffle carry (token, partial-count) pairs,
    not occurrences). ``top_n`` returns the n most frequent with a
    deterministic (count desc, token asc) tiebreak — Catalyst plans it
    as TakeOrderedAndProject, never a global sort."""
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = F.explode(F.array_remove(F.split(text, r"\s+"), ""))
    counts = (df.select(toks.alias("token"))
              .groupBy("token").agg(F.count(F.lit(1)).alias("n")))
    if min_count > 1:
        counts = counts.filter(F.col("n") >= min_count)
    if top_n is not None:
        counts = counts.orderBy(F.desc("n"), F.asc("token")).limit(top_n)
    return counts

def mojibake_repairs() -> list[tuple[str, str]]:
    """The UTF-8-read-as-cp1252 repair table: ``(mojibake_seq, char)``
    for every character cp1252 can corrupt — Latin-1 supplement
    U+00A0..U+00FF plus cp1252's extension set (curly quotes, dashes,
    ellipsis, euro, trademark, OE/S/Z-caron ligatures). Derived at
    import by round-tripping each char through
    ``encode('utf-8').decode('cp1252')`` — the exact corruption a
    cp1252-labelled HTTP response inflicts on UTF-8 page bytes, the
    dominant web mojibake class. Chars whose UTF-8 bytes hit cp1252's
    five undefined slots (0x81 8D 8F 90 9D) are skipped: their
    corruption is not representable as a cp1252 string, so it cannot
    appear in text that survived a cp1252 decode. Ordered longest
    sequence first so 3-byte repairs (curly quotes) run before 2-byte
    ones whose sequences could appear inside them."""
    reps: list[tuple[str, str]] = []
    extension = ("ŒœŠšŸŽžƒ"
                 "–—‘’‚“”„"
                 "†‡•…‰‹›€™")
    for ch in [chr(c) for c in range(0xA0, 0x100)] + list(extension):
        try:
            reps.append((ch.encode("utf-8").decode("cp1252"), ch))
        except UnicodeDecodeError:
            continue
    reps.sort(key=lambda r: (-len(r[0]), r[0]))
    return reps


_MOJIBAKE_REPAIRS = mojibake_repairs()
# every repair SOURCE sequence begins with the cp1252 decode of a UTF-8
# lead byte — a closed, tiny character set. A row containing none of
# these lead characters cannot match ANY source sequence (the chain is
# then the identity), so one native single-pass rlike scan gates the
# whole 100+-replace chain. Derived from the table itself (and pinned
# in tests) so a future repair row can never silently invalidate it.
_MOJIBAKE_LEADS = "".join(sorted({seq[0] for seq, _ in _MOJIBAKE_REPAIRS}))


def fix_mojibake(df: DataFrame, text_col: str = "text",
                 out_col: str | None = None) -> DataFrame:
    """Repair UTF-8-decoded-as-cp1252 mojibake (``Ã©`` -> ``é``,
    ``â€™`` -> ``’``) — the ftfy-style cleanup every web-text pipeline
    runs before quality filtering. One map-side pass of chained native
    ``replace`` calls over :func:`mojibake_repairs` (zero shuffle, no
    Python); clean text passes through unchanged byte-for-byte, and a
    single lead-character scan short-circuits the whole chain for rows
    that provably contain no repairable sequence (most of any real
    corpus) — each ``replace`` is a full scan of the row, so the guard
    turns ~100 scans into 1 for clean text.

    Tradeoff (same as ftfy's): text that *legitimately* contains a
    repair sequence (e.g. literal ``Ã`` directly followed by ``©``)
    is rewritten. Those sequences are vanishingly rare in real prose —
    that rarity is why mojibake is detectable at all."""
    text = F.col(text_col)
    col = text
    for seq, ch in _MOJIBAKE_REPAIRS:
        col = F.replace(col, F.lit(seq), F.lit(ch))
    guarded = F.when(text.rlike(f"[{_MOJIBAKE_LEADS}]"), col).otherwise(text)
    return df.withColumn(out_col or text_col, guarded)


def mojibake_sql_expr(col_sql: str) -> str:
    """ANSI-SQL twin of :func:`fix_mojibake` for oracle cross-checks:
    the same repair chain, same order, rendered as nested REPLACE
    calls over ``col_sql``. (Repair sequences contain no ASCII, so no
    quote escaping is ever needed — asserted anyway.)"""
    expr = col_sql
    for seq, ch in _MOJIBAKE_REPAIRS:
        assert "'" not in seq and "'" not in ch
        expr = f"replace({expr}, '{seq}', '{ch}')"
    return expr


def _apply_merge(syms: Column, a: str, b: str) -> Column:
    """One BPE merge pass over a symbol array: greedy left-to-right
    non-overlapping replacement of adjacent (a, b) with a+b — the
    Sennrich et al. 2016 merge rule, expressed as a fold (after a
    merge the new tail is the MERGED symbol, so 'aaa' under (a,a)
    yields [aa, a], never [aa, aa] from overlap)."""
    merged = a + b
    return F.aggregate(
        syms, F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(merged)))
        ).otherwise(F.concat(acc, F.array(s))))


def bpe_pair_counts(df: DataFrame, text_col: str = "text",
                    merges: tuple[tuple[str, str], ...] = (),
                    lowercase: bool = True) -> DataFrame:
    """Corpus-weighted adjacent-symbol pair counts ``(left, right, n)``
    — the inner table of BPE tokenizer training. Scale shape: counting
    runs over the UNIQUE-WORD table weighted by word frequency, never
    over raw occurrences — the corpus-sized scan happens once in the
    word count (map-side partial agg), and everything after is
    vocabulary-sized (~10^7-10^8 distinct words at web scale, vs 10^12
    occurrences). ``merges`` pre-applies an existing merge list (one
    interpreted fold pass per merge, per unique word). Pair extraction
    is native: arrays_zip of the two shifted slices, exploded, summed."""
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    words = (df.select(F.explode(F.array_remove(F.split(text, r"\s+"), ""))
                       .alias("word"))
             .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    syms = F.split(F.col("word"), "")
    for a, b in merges:
        syms = _apply_merge(syms, a, b)
    n = F.size(syms)
    pair = F.explode(F.arrays_zip(
        F.slice(syms, 1, n - 1).alias("left"),
        F.slice(syms, 2, n - 1).alias("right")))
    return (words.select("freq", pair.alias("p"))
            .groupBy(F.col("p.left").alias("left"),
                     F.col("p.right").alias("right"))
            .agg(F.sum("freq").alias("n")))


def _bpe_train_local(words: list, n_merges: int,
                     min_count: int) -> list[tuple[str, str]]:
    """Driver-local heap-based BPE trainer over the collected unique-word
    table — the classic incremental-pair-count algorithm (Sennrich et
    al. 2016 reference implementation shape). ``words`` is a list of
    mutable ``[symbols, freq]`` entries (mutated in place). Reproduces
    the distributed loop's semantics EXACTLY: best pair by (count desc,
    left asc, right asc) — Python's per-code-point string order equals
    Spark's UTF8 binary order because UTF-8 is order-preserving — greedy
    left-to-right non-overlapping merge application, stop when the best
    count drops below ``min_count``. Lazy-deletion heap: every count
    change pushes a fresh entry and stale entries (count no longer
    current) are skipped on pop, so the first valid pop is the true
    argmax. Cost: O(total syms) once, then per merge only the words
    containing the merged pair are touched — zero Spark jobs."""
    import heapq
    from collections import Counter, defaultdict

    pair_counts: Counter = Counter()
    pair_words: defaultdict = defaultdict(set)
    for idx, (syms, _freq) in enumerate(words):
        pairs = list(zip(syms, syms[1:]))
        for p in pairs:
            pair_counts[p] += _freq
        for p in set(pairs):
            pair_words[p].add(idx)

    heap = [(-n, a, b) for (a, b), n in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        neg, a, b = heapq.heappop(heap)
        n = pair_counts.get((a, b), 0)
        if n != -neg:
            continue  # stale: count changed since this entry was pushed
        if n < min_count:
            break
        merges.append((a, b))
        merged = a + b
        changed: set = set()
        for idx in sorted(pair_words.get((a, b), ())):
            syms, freq = words[idx]
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = merged
                else:
                    out.append(s)
            old = Counter(zip(syms, syms[1:]))
            new = Counter(zip(out, out[1:]))
            words[idx][0] = out
            for p in old.keys() | new.keys():
                d = new[p] - old[p]
                if d:
                    pair_counts[p] += d * freq
                    if pair_counts[p] <= 0:
                        del pair_counts[p]
                    changed.add(p)
                    if d > 0:
                        pair_words[p].add(idx)
                    elif new[p] == 0:
                        pair_words[p].discard(idx)
        # a full greedy pass removes every (a, b) adjacency, so the
        # merged pair's count must be exactly zero now (delta soundness)
        if (a, b) in pair_counts:
            raise RuntimeError(
                f"merged pair {(a, b)} still counted after its merge pass")
        pair_words.pop((a, b), None)
        for p in changed:
            n2 = pair_counts.get(p, 0)
            if n2 > 0:
                heapq.heappush(heap, (-n2, p[0], p[1]))
    return merges


def bpe_train(df: DataFrame, n_merges: int, text_col: str = "text",
              lowercase: bool = True, min_count: int = 2,
              checkpoint_every: int = 8,
              driver_vocab_cap: int = 5_000_000) -> list[tuple[str, str]]:
    """Learn a BPE merge list from the corpus. The corpus is scanned
    exactly once (word count, map-side partial agg); everything after is
    vocabulary-sized. When the unique-word table fits under
    ``driver_vocab_cap`` rows (~10^6-10^7 distinct words at web scale —
    it fits by construction for any corpus whose tokenizer you would
    train), the pruned ``(syms, freq)`` table is collected ONCE and the
    merges are learned by the driver-local heap trainer
    (:func:`_bpe_train_local`): zero per-merge Spark jobs, so a real
    32k-merge vocabulary is minutes of driver CPU instead of 32k
    sequential vocabulary-sized jobs. The symbol split is computed by
    Spark BEFORE the collect, so both paths see byte-identical symbol
    arrays by construction.

    Above the cap, falls back to the distributed loop: per iteration,
    count adjacent symbol pairs over the checkpointed unique-word table,
    take the argmax (deterministic (n desc, left, right) tiebreak —
    TakeOrderedAndProject, never a global sort), and apply ONE merge
    pass to the materialized symbol column, truncating lineage with
    ``localCheckpoint`` every ``checkpoint_every`` merges (the
    iterative-loop rule from ops/dedup.duplicate_clusters). Both paths
    stop early when the best pair drops below ``min_count`` and produce
    identical merge lists (equivalence pinned in tests)."""
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    cur = (df.select(F.explode(F.array_remove(F.split(text, r"\s+"), ""))
                     .alias("word"))
           .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
           .withColumn("syms", F.split(F.col("word"), ""))
           .localCheckpoint(eager=True))
    if cur.count() <= driver_vocab_cap:
        rows = cur.select("syms", "freq").collect()
        return _bpe_train_local([[list(r.syms), r.freq] for r in rows],
                                n_merges, min_count)
    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        n = F.size(F.col("syms"))
        pair = F.explode(F.arrays_zip(
            F.slice(F.col("syms"), 1, n - 1).alias("left"),
            F.slice(F.col("syms"), 2, n - 1).alias("right")))
        top = (cur.select("freq", pair.alias("p"))
               .groupBy(F.col("p.left").alias("left"),
                        F.col("p.right").alias("right"))
               .agg(F.sum("freq").alias("n"))
               .orderBy(F.desc("n"), "left", "right").limit(1).collect())
        if not top or top[0].n < min_count:
            break
        a, b = top[0].left, top[0].right
        merges.append((a, b))
        cur = cur.withColumn("syms", _apply_merge(F.col("syms"), a, b))
        if (i + 1) % checkpoint_every == 0:
            cur = cur.localCheckpoint(eager=True)
    return merges


def normalize_unicode(df: DataFrame, text_col: str = "text",
                      form: str = "NFC",
                      out_col: str | None = None) -> DataFrame:
    """Unicode normalization (NFC/NFD/NFKC/NFKD) — run before
    fingerprinting/dedup so canonically-equivalent byte sequences
    (precomposed ``é`` vs ``e``+combining-acute) dedup together.
    Arrow-batched pandas UDF over ``unicodedata`` (Spark has no native
    normalizer); map-side, zero shuffle, marked nondeterministic per
    the optimizer-clone trap. The NFC path is oracled against DuckDB's
    ``nfc_normalize``."""
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    def _norm(s):
        return s.map(lambda t: None if t is None
                     else unicodedata.normalize(form, t))

    udf = pandas_udf(_norm, "string").asNondeterministic()
    return df.withColumn(out_col or text_col, udf(F.col(text_col)))


def _bpe_words(text_col: str, lowercase: bool) -> Column:
    """JVM-side tokenization shared by BOTH encode paths: lower + split
    happen in the engine, so the Arrow path and the native twin see
    byte-identical word arrays by construction (Python's ``\\s``/
    ``str.lower`` have Unicode edge cases Java's do not)."""
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    return F.array_remove(F.split(text, r"\s+"), "")


def bpe_encode(df: DataFrame, merges, text_col: str = "text",
               out_col: str = "bpe_tokens", lowercase: bool = True,
               cache_size: int = 1 << 20) -> DataFrame:
    """Apply a trained BPE merge list to every document — the
    production path between :func:`bpe_train` and sequence packing.

    Scale shape (10^12 documents): the merge list is bounded by
    construction (a tokenizer is 10^4-10^5 merges, a few MB), so it
    ships in the UDF closure and encoding is a zero-shuffle Arrow map
    pass. BPE segmentation depends only on the word, never on context,
    and word frequencies are Zipfian — a per-worker memo dict
    (``cache_size`` entries, cleared when full) makes the amortized
    cost per occurrence ~one dict hit. Tokenization (lower + split)
    stays JVM-side; Python only runs the merge loop.

    Each merge is one greedy left-to-right non-overlapping pass in
    list order — exactly :func:`_apply_merge`'s fold semantics (the
    'aaa' overlap pin holds on both paths); a pass is skipped when
    either symbol is absent from the word's current symbol set, so a
    32k-merge list costs ~|applicable| passes per uncached word.

    Adds ``out_col`` (array<string>). Equivalence with the native
    :func:`bpe_encode_expr` twin is pinned in tests.
    """
    from pyspark.sql.functions import pandas_udf

    merges = [(str(a), str(b)) for a, b in merges]
    if len(merges) > 1 << 20:  # closure ships to every task
        raise ValueError(f"merge list too large ({len(merges)}); "
                         "real tokenizers are 10^4-10^5 merges")

    @pandas_udf("array<string>")
    def _enc(words_s):
        import pandas as pd
        cache: dict = {}

        def encode_word(word):
            got = cache.get(word)
            if got is not None:
                return got
            syms = list(word)
            present = set(syms)
            for a, b in merges:
                if a not in present or b not in present:
                    continue
                out = []
                for s in syms:
                    if out and out[-1] == a and s == b:
                        out[-1] = a + b
                    else:
                        out.append(s)
                syms = out
                present = set(syms)
            if len(cache) >= cache_size:
                cache.clear()
            cache[word] = syms
            return syms

        return pd.Series([
            [] if words is None else
            [t for w in words for t in encode_word(w)]
            for words in words_s])

    enc = _enc.asNondeterministic()  # optimizer-clone trap
    return df.withColumn(out_col, enc(_bpe_words(text_col, lowercase)))


def bpe_encode_expr(text_col: str, merges,
                    lowercase: bool = True) -> Column:
    """Native catalyst twin of :func:`bpe_encode`: one interpreted
    fold pass per merge per word (HOF lambdas are CodegenFallback).
    O(|merges|) passes per word makes this the TEST/ORACLE path, not
    the 100 TB path — it exists so the Arrow encoder has an in-engine
    equivalence witness and the DuckDB oracle a mirrorable shape."""
    def enc_word(w: Column) -> Column:
        syms = F.split(w, "")
        for a, b in merges:
            syms = _apply_merge(syms, a, b)
        return syms

    return F.flatten(F.transform(_bpe_words(text_col, lowercase),
                                 enc_word))


def compression_ratio(df: DataFrame, text_col: str = "text",
                      out_col: str = "zlib_ratio",
                      level: int = 6) -> DataFrame:
    """Per-document zlib compression ratio (compressed/raw bytes) — the
    classic cheap repetition/entropy signal (near 0 = degenerate
    repetition, ~0.3-0.6 = normal prose, >0.9 = high-entropy/binary
    junk). Used alongside the Gopher gates: it catches repetition the
    n-gram metrics miss (long-period templates) and gibberish the
    stopword ratios miss.

    Arrow-batched stdlib zlib (no JVM column function exists), map-side
    zero shuffle, nondeterministic-marked (optimizer-clone trap). Empty
    or NULL text scores 1.0 (incompressible by convention, so a
    low-ratio filter never selects it)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(texts):
        import zlib

        import pandas as pd
        out = []
        for t in texts:
            if not t:
                out.append(1.0)
                continue
            raw = t.encode("utf-8")
            out.append(len(zlib.compress(raw, level)) / len(raw))
        return pd.Series(out)

    return df.withColumn(out_col,
                         _ratio.asNondeterministic()(F.col(text_col)))
