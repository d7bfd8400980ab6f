"""Corpus-level preparation operators for training-data pipelines.

Two primitives every large-scale dataset build needs on top of the dedup /
quality family (operators/dedup.py, functions/text.py):

- ``hash_split``: deterministic, stateless train/val/test assignment. The
  split must be a pure function of the row key (never ``rand()``): it has
  to survive re-runs, backfills, and corpus growth without rows migrating
  between splits. We hash ``salt || key`` with md5 and compare the first 8
  hex digits against precomputed hex thresholds — lexicographic comparison
  of equal-length lowercase hex IS numeric comparison, so the assignment is
  reproducible in any engine that has md5 (the DuckDB oracle uses the
  identical expression). No shuffle at all: the split is a projection.

- ``remove_boilerplate_lines``: C4-style corpus-frequency line filtering
  (Raffel et al. 2020 drop lines seen >= 3 times in the corpus — menus,
  cookie banners, copyright footers). Lines are exploded with their
  position, counted corpus-wide, and documents are rebuilt from the
  surviving lines in original order.

Scale notes (100 TB): the line-count join is an equi-join on the line
digest — a slim (digest, count) table against (doc, pos, digest) rows; at
trillion-line scale the count side stays aggregated (one row per distinct
line) and is typically small enough for a broadcast after the frequency
filter. Rebuild is one groupBy(doc) with an array_sort on (pos, line) —
collect_list order is non-deterministic across retries, the sort restores
it. No Python, no UDFs — whole plan is codegen.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX_SPACE = 16 ** 8  # first 8 md5 hex digits


def _hex8(x: int) -> str:
    return format(min(max(x, 0), _HEX_SPACE - 1), "08x")


def split_thresholds(weights: Mapping[str, float]) -> list[tuple[str, str]]:
    """[(split_name, upper_hex_bound)] with cumulative bounds over the
    8-hex-digit space; the last split absorbs rounding remainder."""
    total = float(sum(weights.values()))
    out, acc = [], 0.0
    for name, w in weights.items():
        acc += w / total
        out.append((name, _hex8(int(acc * _HEX_SPACE))))
    out[-1] = (out[-1][0], "f" * 8)
    return out


def hash_split_col(
    key: Column, weights: Mapping[str, float], salt: str = "split"
) -> Column:
    """The split label as a column expression (pure projection)."""
    h = F.substring(F.md5(F.concat(F.lit(salt + ":"), key.cast("string"))), 1, 8)
    expr = None
    for name, bound in split_thresholds(weights):
        cond = h <= F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return expr


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: Mapping[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Add a deterministic ``split`` column keyed on ``key_col``.

    Default 90/5/5 train/val/test. Changing ``salt`` re-rolls every
    assignment; keeping it fixed guarantees a row never migrates, even when
    the corpus is re-ingested or grows.
    """
    weights = weights or {"train": 0.90, "val": 0.05, "test": 0.05}
    return df.withColumn("split", hash_split_col(F.col(key_col), weights, salt))


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_occurrences: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Drop every line whose exact text occurs more than ``max_occurrences``
    times across the whole corpus; rebuild each document from its surviving
    lines in original order.

    Returns (id_col, clean_text, n_lines_kept, n_lines_dropped). Documents
    whose every line is boilerplate survive with ``clean_text = ''`` so the
    caller decides whether to drop empties (a quality-gate concern).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    counts = lines.groupBy("line").agg(F.count("*").alias("_line_n"))
    kept = lines.join(counts, "line").withColumn(
        "_keep", F.col("_line_n") <= F.lit(max_occurrences)
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("_keep"), F.struct("pos", "line"))
                )
            ).alias("_kept"),
            F.sum(F.col("_keep").cast("long")).alias("n_lines_kept"),
            F.sum((~F.col("_keep")).cast("long")).alias("n_lines_dropped"),
        )
        .select(
            id_col,
            F.concat_ws(sep, F.transform("_kept", lambda s: s["line"])).alias(
                "clean_text"
            ),
            "n_lines_kept",
            "n_lines_dropped",
        )
    )


def contamination_check(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark-decontamination scan: train documents sharing at least one
    word ``n``-gram with ANY test document (the GPT-3/PaLM-style 13-gram
    collision rule, here with configurable n).

    Returns ``(id_col, n_collisions)`` — n_collisions = number of DISTINCT
    train-doc n-grams that appear anywhere in the test set. Docs with no
    collision are absent (left-anti the result to get the clean corpus).

    Scale shape (100 TB train, benchmark-sized test): the test side
    collapses to one slim DISTINCT gram column and is explicitly broadcast
    — the train side explodes its grams map-side and never shuffles for
    the probe; only the matched (id, gram) rows enter the final per-doc
    count, whose partial aggregation makes the shuffle proportional to
    contaminated docs, not corpus size. For a test set too big to
    broadcast, the same plan degrades gracefully to a shuffled equi-join
    on the gram hash.
    """
    from ethereum_etl_spark.operators.dedup import word_ngrams

    test_grams = (
        test.select(F.explode(word_ngrams(F.col(text_col), n)).alias("gram"))
        .distinct()
    )
    train_grams = train.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
    )
    return (
        train_grams.join(F.broadcast(test_grams), "gram")
        # word_ngrams is per-doc distinct, so count(*) counts distinct
        # colliding grams
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_collisions"))
    )


def top_ngram_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Per-document most-frequent word ``n``-gram WITH multiplicity — the
    Gopher top-n-gram repetition signal (a doc whose top bigram covers a
    large fraction of it is boilerplate/spam).

    Returns ``(id_col, top_gram, top_gram_n, grams_total)``;
    top_gram_frac = top_gram_n / grams_total. Ties break on the
    lexicographically greatest gram (struct-max ordering), so the result
    is deterministic across engines and partitionings.

    Scale shape: one shuffle on (doc, gram) of slim rows with map-side
    partial counts; the per-doc argmax is a struct-max aggregate — no
    window, no second sort of the corpus.
    """
    from ethereum_etl_spark.operators.dedup import word_ngrams_all

    grams = df.select(
        F.col(id_col), F.explode(word_ngrams_all(F.col(text_col), n)).alias("gram")
    )
    per = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("gram_n"))
    return (
        per.groupBy(id_col)
        .agg(
            F.max(F.struct(F.col("gram_n"), F.col("gram"))).alias("_m"),
            F.sum("gram_n").alias("grams_total"),
        )
        .select(
            id_col,
            F.col("_m.gram").alias("top_gram"),
            F.col("_m.gram_n").alias("top_gram_n"),
            "grams_total",
        )
    )


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
    n_streams: int | str = 32,
    salt: str = "pack",
    auto_docs_per_stream: int = 100_000,
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents into a token tape
    and chunk it into fixed ``max_tokens`` training windows (the
    concat-then-chunk pretraining convention — every pack is exactly full
    except each stream's last; a document straddling a boundary is SPLIT
    across the adjacent packs).

    Scale design: documents are first hashed into ``n_streams``
    INDEPENDENT packing streams (md5 of ``salt || id`` — the same
    engine-portable rule as ``hash_split``), so there is no global sort
    and no sequential driver state: each stream's tape is one window
    cumsum over its own hash partition, embarrassingly parallel in the
    stream count. At 100 TB you raise ``n_streams`` to the write
    parallelism you want; determinism is unaffected (stream membership
    and in-stream order are pure functions of the id). Zero-token
    documents pack nothing and are dropped.

    ``n_streams="auto"`` sizes the stream count from the corpus — one
    stream per ``auto_docs_per_stream`` documents, rounded up (one column-pruned
    count job, the ``lsh_bits_for_corpus`` discipline: a stream count
    someone fixed at small scale quietly serializes the cumsum as the
    corpus grows). NOTE: the stream hash modulus changes pack contents,
    so two runs are only comparable at the same resolved ``n_streams`` —
    callers that need stable output across corpus growth (the
    correctness-gated query, incremental pipelines) pin an int.

    Returns one row per (document, pack) overlap:

    - ``stream_id``, ``pack_id`` (within stream) — long
    - ``id_col`` — the document
    - ``doc_from`` / ``doc_to`` — the token slice of the document that
      lands in this pack, ``[from, to)`` offsets within the document
    - ``pack_offset`` — where that slice begins inside the pack

    Consumers rebuild a pack by sorting its rows on ``pack_offset`` and
    concatenating token slices; ``sum(doc_to - doc_from)`` per pack ==
    ``max_tokens`` for every non-final pack. Pure integer arithmetic
    end to end (exact in any engine — the DuckDB oracle runs the same
    expressions verbatim).
    """
    if max_tokens < 1:
        raise ValueError("max_tokens must be >= 1")
    if n_streams == "auto":
        if auto_docs_per_stream < 1:
            raise ValueError(
                f"auto_docs_per_stream must be >= 1, got {auto_docs_per_stream!r}"
            )
        n_docs = df.filter(F.col(n_tokens_col) > 0).count()
        n_streams = max(1, -(-n_docs // auto_docs_per_stream))
    if not isinstance(n_streams, int) or n_streams < 1:
        raise ValueError(f"n_streams must be an int >= 1 or 'auto', got {n_streams!r}")
    sid = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))), 1, 8
            ),
            16, 10,
        ).cast("long") % n_streams
    )
    d = df.filter(F.col(n_tokens_col) > 0).select(
        F.col(id_col),
        sid.alias("stream_id"),
        F.col(n_tokens_col).cast("long").alias("_n"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("stream_id")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = (
        d.withColumn("_cum_end", F.sum("_n").over(w))
        .withColumn("_cum_prev", F.col("_cum_end") - F.col("_n"))
    )
    # integer DIV keeps everything exact (no double rounding at any size)
    first_pack = F.expr(f"_cum_prev DIV {max_tokens}")
    last_pack = F.expr(f"(_cum_end - 1) DIV {max_tokens}")
    out = d.withColumn("pack_id", F.explode(F.sequence(first_pack, last_pack)))
    pack_start = F.col("pack_id") * max_tokens
    doc_from = F.greatest(F.lit(0).cast("long"), pack_start - F.col("_cum_prev"))
    doc_to = F.least(F.col("_n"), pack_start + max_tokens - F.col("_cum_prev"))
    return out.select(
        "stream_id",
        F.col("pack_id").cast("long").alias("pack_id"),
        id_col,
        doc_from.cast("long").alias("doc_from"),
        doc_to.cast("long").alias("doc_to"),
        (F.col("_cum_prev") + doc_from - pack_start).cast("long").alias("pack_offset"),
    )


def stratified_sample(
    df: DataFrame,
    group_col: str,
    fractions: Mapping[str, float],
    key_col: str,
    salt: str = "mix",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-group subsampling — the corpus-MIXING primitive
    (down-weight over-represented languages/domains to hit a target
    training mixture, a la temperature-sampled multilingual corpora).

    Keep a row iff ``md5(salt || key)``'s first 8 hex digits fall below the
    group's fraction threshold. Same guarantees as ``hash_split``: pure
    projection (zero shuffle, zero state), stable under re-runs/backfills/
    corpus growth (a kept row stays kept), re-rolled only by changing
    ``salt`` — and the SAME key hashed under different salts gives
    independent decisions for split vs mix. Groups absent from
    ``fractions`` keep ``default_fraction`` (0 = drop unknown groups;
    1 = pass through).

    At 100 TB this is a filter pushed into the scan — sampling to a target
    mixture costs zero beyond the read, vs. the shuffle a groupBy-based
    sampler would pay.
    """
    for g, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for {g!r} must be in [0, 1], got {f}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError("default_fraction must be in [0, 1]")
    def _bound(f: float) -> str:
        # strict `<` below: f=0.0 -> "00000000" drops everything; f=1.0 ->
        # "g0000000" (lexicographically above every hex hash) keeps
        # everything — exact at both endpoints, no 1-in-2^32 edge
        return "g0000000" if f >= 1.0 else _hex8(int(f * _HEX_SPACE))

    h = F.substring(
        F.md5(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))), 1, 8
    )
    thresh = None
    for g, f in fractions.items():
        cond = F.col(group_col) == g
        bound = F.lit(_bound(f))
        thresh = F.when(cond, bound) if thresh is None else thresh.when(cond, bound)
    default_bound = F.lit(_bound(default_fraction))
    thresh = thresh.otherwise(default_bound) if thresh is not None else default_bound
    # lexicographic compare of equal-length lowercase hex == numeric compare
    return df.filter(h < thresh)


def tokenize_with_vocab(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_col: str = "token",
    oov_id: int = 0,
) -> DataFrame:
    """Map documents to integer token-id sequences against a fixed
    vocabulary — the final encode step of the corpus pipeline (quality →
    dedup → mix → pack → ENCODE): lowercase whitespace tokens (the same
    rule as ``vocab_topk``), in-vocab tokens take ``token_id``, everything
    else the ``oov_id`` sentinel. Returns ``(id_col, n_tokens, token_ids
    array<int>)`` with ids in original document order. EVERY input row
    appears in the output: a document whose text has no ``\\S+`` tokens
    (empty or whitespace-only) comes back as ``(n_tokens=0, token_ids=[])``
    — ``posexplode_outer`` keeps a null-position row for it, so the
    contract costs no extra join.

    Scale shape: tokens posexplode map-side; the id lookup is a broadcast
    equi-join against the vocabulary (vocab size ~10^5 — always a dim
    table; the corpus-sized fact side never shuffles for it); order is
    restored per document by one array_sort over (pos, id) structs in the
    rebuild aggregation — the same single-shuffle rebuild discipline as
    ``remove_boilerplate_lines``.
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode_outer(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), F.lit(0))
        ).alias("_pos", "_tok"),
    )
    vdim = vocab.select(
        F.col(token_col).alias("_tok"), F.col("token_id").alias("_tid")
    )
    mapped = toks.join(F.broadcast(vdim), "_tok", "left").select(
        id_col,
        "_pos",
        F.coalesce(F.col("_tid"), F.lit(oov_id)).cast("int").alias("_tid"),
    )
    rebuilt = mapped.groupBy(id_col).agg(
        # count(_pos) skips the null row an empty document contributes
        F.count(F.col("_pos")).cast("long").alias("n_tokens"),
        F.transform(
            F.array_sort(
                F.collect_list(  # collect_list drops the null-pos sentinel
                    F.when(
                        F.col("_pos").isNotNull(),
                        F.struct(F.col("_pos"), F.col("_tid")),
                    )
                )
            ),
            lambda s: s["_tid"],
        ).alias("token_ids"),
    )
    return rebuilt


def bpe_word_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``(word, freq)`` over lowercase ALPHABETIC whitespace tokens — the
    word-frequency dictionary a BPE trainer iterates on. Restricting to
    ``^[a-z]+$`` keeps the symbol alphabet ASCII, so character splitting,
    substring arithmetic, and merge application are byte-exact across
    engines (multi-byte graphemes split differently between Spark's
    codepoint split and SQL substr — out of scope for the trainer; the
    encoder passes non-alphabetic tokens through opaque).

    Scale shape: one explode + one hash-groupBy. The word dictionary is
    vocabulary-sized (~10^6-10^7 distinct words even at 100 TB — Heaps'
    law), which is what makes iterative BPE training tractable: every
    Lloyd-style round below works on THIS table, never the corpus."""
    words = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), F.lit(0))
        ).alias("word")
    ).filter(F.col("word").rlike("^[a-z]+$"))
    return words.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("freq"))


def apply_bpe_merge(syms: Column, left: str, right: str) -> Column:
    """One BPE merge pass over a symbol array: greedy left-to-right,
    non-overlapping — the classic semantics (``aaa`` under ``(a,a)`` →
    ``[aa, a]``). A pure ``F.aggregate`` fold with an array accumulator:
    merge the tail element with the current symbol when they form the
    pair, else append. Exact string ops only — no floats, no UDFs, and
    bit-identical to the DuckDB ``list_reduce`` oracle fold."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, v: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (v == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(v))),
    )


def train_bpe(words: DataFrame, merges: int = 6) -> list[dict]:
    """Byte-pair-encoding vocabulary trainer — the subword step real LLM
    pipelines put between ``vocab_topk`` (whitespace words) and model
    training. ``words`` is a ``(word, freq)`` dictionary (see
    :func:`bpe_word_table`); returns the learned merge list
    ``[{merge_rank, left_sym, right_sym, merged, pair_count}, ...]``.

    Per round (same iterative discipline as ``kmeans_fit`` /
    ``connected_components``): ONE explode of adjacent symbol pairs
    weighted by word frequency, ONE groupBy((l, r)) count, a 1-row
    driver collect of the argmax pair (ties broken (count desc, l asc,
    r asc) — deterministic in any engine), then the merge applied to
    every word as a pure projection fold. The working set never exceeds
    the word dictionary; driver traffic is one row per round.
    ``localCheckpoint`` truncates lineage each round so round k costs
    O(dict), not O(k * dict). Stops early when no pair remains.

    Scale honesty: this is one Spark job per merge, which is the right
    shape for the corpus-sized part of the problem (the ONE corpus pass
    in :func:`bpe_word_table`) but caps practical ``merges`` at a few
    hundred — a production 32k-merge vocabulary is trained by pulling the
    word-frequency dictionary (vocabulary-sized, fits one node by Heaps'
    law even at 100 TB) to a single process and running the classic
    heap-based trainer there, then re-entering Spark for
    :func:`encode_bpe`. What this operator contributes is the exact
    distributed semantics, oracle-verified at small K, plus the
    dictionary extraction that IS the at-scale bottleneck.
    """
    w = words.select("word", "freq", F.split(F.col("word"), "").alias("syms"))
    out: list[dict] = []
    for rank in range(1, merges + 1):
        w = w.localCheckpoint(eager=True)
        pairs = w.filter(F.size("syms") >= 2).select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1),
                    F.slice(F.col("syms"), 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
        out.append(
            {
                "merge_rank": rank,
                "left_sym": l,
                "right_sym": r,
                "merged": l + r,
                "pair_count": n,
            }
        )
        w = w.withColumn("syms", apply_bpe_merge(F.col("syms"), l, r))
    return out


def encode_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a ranked BPE merge list to every document; returns
    ``(id_col, n_words, n_tokens_bpe)`` — the post-merge subword token
    count that sequence packing / budget accounting consume. Alphabetic
    words (``^[a-z]+$`` after lowercasing, the trainer's alphabet) are
    char-split and folded through the merges in rank order; any other
    whitespace token passes through as ONE opaque token (the byte-fallback
    placeholder). Documents with no ``\\S+`` tokens appear as ``(0, 0)``
    — same all-rows contract as ``tokenize_with_vocab``.

    Scale shape: the standard word-cache trick — each DISTINCT word is
    encoded once (K projection folds over the vocabulary-sized word
    dictionary), then joined back to the exploded corpus by word and
    summed per document. The K-fold CPU cost lands on ~10^6 dictionary
    rows, not ~10^12 token occurrences. The nested-fold expression keeps
    codegen happy to a few hundred merges; at production merge counts the
    same word-cache plan swaps the fold column for an Arrow-batched
    pandas UDF wrapping a real tokenizer — the join/dedup/re-aggregate
    skeleton (the part that must scale) is unchanged.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode_outer(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), F.lit(0))
        ).alias("word"),
    )
    alpha = F.col("word").rlike("^[a-z]+$")
    enc = toks.filter(F.col("word").isNotNull()).select("word").distinct().select(
        "word",
        F.when(alpha, F.split(F.col("word"), ""))
        .otherwise(F.array(F.col("word")))
        .alias("syms"),
    )
    for left, right in merges:
        enc = enc.withColumn("syms", apply_bpe_merge(F.col("syms"), left, right))
    dim = enc.select("word", F.size("syms").cast("long").alias("_wt"))
    return (
        toks.join(dim, "word", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.col("word")).cast("long").alias("n_words"),
            F.coalesce(F.sum("_wt"), F.lit(0)).cast("long").alias("n_tokens_bpe"),
        )
    )


def vocab_with_ids(vocab_topk_df: DataFrame) -> DataFrame:
    """Assign stable integer ids to a ``vocab_topk`` result: rank by
    (count desc, token asc) — deterministic across engines — with id 1 as
    the most frequent token (0 is reserved for OOV)."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return vocab_topk_df.select(
        "token", F.row_number().over(w).cast("int").alias("token_id")
    )
