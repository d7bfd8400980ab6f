"""Round-5 additions: BPE subword trainer/encoder, the IVF x int8 ANN
composition, the tokenize_with_vocab all-rows contract, and a REAL
two-thread OCC writer race (round 4 proved retry semantics only via a
monkeypatched commit; this pins the genuinely concurrent path).
"""

import threading

import pytest
from pyspark.sql import functions as F

from ethereum_etl_spark.operators.corpus import (
    apply_bpe_merge,
    bpe_word_table,
    encode_bpe,
    tokenize_with_vocab,
    train_bpe,
    vocab_with_ids,
)
from ethereum_etl_spark.operators.similarity import (
    brute_force_topk,
    ivf_quantized_topk,
)
from ethereum_etl_spark.plans.merge import MergeTable


# ---------------- BPE trainer / encoder ----------------

class TestBpeTrain:
    def test_hand_computed_merge_sequence(self, spark):
        """'the'x4 'cat'x2 'sat'x1: pair counts th:4 he:4 ca:2 at:3 sa:1.
        Tie at 4 broken by left symbol asc -> (h,e) first, then (t,he),
        then (a,t), (c,at), (s,at), then early-stop (no pairs left)."""
        docs = spark.createDataFrame(
            [(1, "the the the cat"), (2, "the cat sat")], "doc_id long, text string"
        )
        merges = train_bpe(bpe_word_table(docs), merges=6)
        got = [(m["left_sym"], m["right_sym"], m["pair_count"]) for m in merges]
        assert got == [
            ("h", "e", 4), ("t", "he", 4), ("a", "t", 3),
            ("c", "at", 2), ("s", "at", 1),
        ]
        assert [m["merge_rank"] for m in merges] == [1, 2, 3, 4, 5]
        assert merges[1]["merged"] == "the"

    def test_self_pair_greedy_nonoverlapping(self, spark):
        """(a,a) over 'aaaa': greedy left-to-right merges positions (1,2)
        and (3,4) -> [aa,aa]; round 2 merges (aa,aa) -> [aaaa]."""
        words = spark.createDataFrame([("aaaa", 2)], "word string, freq long")
        merges = train_bpe(words, merges=4)
        got = [(m["left_sym"], m["right_sym"], m["pair_count"]) for m in merges]
        assert got == [("a", "a", 6), ("aa", "aa", 2)]  # then early-stop

    def test_apply_merge_fold_cases(self, spark):
        df = spark.createDataFrame(
            [(["a", "a", "a"],), (["b", "a", "a", "a", "a"],), (["x"],)],
            "syms array<string>",
        )
        out = [r["m"] for r in df.select(
            apply_bpe_merge(F.col("syms"), "a", "a").alias("m")).collect()]
        assert out == [["aa", "a"], ["b", "aa", "aa"], ["x"]]


class TestBpeEncode:
    def test_encode_counts_and_opaque_tokens(self, spark):
        docs = spark.createDataFrame(
            [(1, "The cat! the the"), (2, ""), (3, "   ")],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: (r["n_words"], r["n_tokens_bpe"])
            for r in encode_bpe(docs, [("t", "h"), ("th", "e")]).collect()
        }
        # 'the' x3 -> 1 subword each; 'cat!' is non-alphabetic -> 1 opaque
        assert out[1] == (4, 4)
        # all-rows contract: empty / whitespace-only docs appear as (0, 0)
        assert out[2] == (0, 0) and out[3] == (0, 0)

    def test_encode_never_loses_characters(self, spark):
        """Token count shrinks under merges but concatenated length is
        conserved for alphabetic words (merges only join, never drop)."""
        docs = spark.createDataFrame(
            [(1, "banana bandana cabana")], "doc_id long, text string"
        )
        merges = train_bpe(bpe_word_table(docs), merges=3)
        pairs = [(m["left_sym"], m["right_sym"]) for m in merges]
        out = encode_bpe(docs, pairs).collect()[0]
        assert out["n_words"] == 3
        assert 3 <= out["n_tokens_bpe"] < len("bananabandanacabana")


    def test_oracle_matches_when_fewer_merges_are_learned(self, spark):
        """'ab ab abab ba' runs out of pairs after 3 merges, fewer than the
        registry's _BPE_MERGES rounds: the DuckDB oracles must still equal
        train_bpe / encode_bpe (an empty round must not empty the words)."""
        import duckdb

        import __spark_entry__ as entry

        rows = [(1, "ab ab abab"), (2, "ba x!"), (3, "")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        merges = train_bpe(bpe_word_table(docs), merges=entry._BPE_MERGES)
        assert [(m["left_sym"], m["right_sym"]) for m in merges] == [
            ("a", "b"), ("ab", "ab"), ("b", "a")]
        got = encode_bpe(docs, [(m["left_sym"], m["right_sym"]) for m in merges])
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        oracle = entry.oracle_sql()
        assert sorted(con.execute(oracle["encode_bpe"]).fetchall()) == sorted(
            tuple(r) for r in got.collect()) == [(1, 3, 3), (2, 2, 2), (3, 0, 0)]
        assert sorted(con.execute(oracle["vocab_train_bpe"]).fetchall()) == [
            tuple(m[k] for k in ("merge_rank", "left_sym", "right_sym", "merged",
                                 "pair_count")) for m in merges]


class TestTokenizeAllRowsContract:
    def test_empty_docs_present_with_zero_tokens(self, spark):
        docs = spark.createDataFrame(
            [(1, "alpha beta alpha"), (2, ""), (3, " \t ")],
            "doc_id long, text string",
        )
        from ethereum_etl_spark.functions.text import vocab_topk

        vocab = vocab_with_ids(vocab_topk(docs, k=10))
        out = {r["doc_id"]: r for r in tokenize_with_vocab(docs, vocab).collect()}
        assert set(out) == {1, 2, 3}
        assert out[1]["n_tokens"] == 3 and len(out[1]["token_ids"]) == 3
        for d in (2, 3):
            assert out[d]["n_tokens"] == 0 and out[d]["token_ids"] == []


class TestBpeFeedsPacking:
    def test_subword_counts_flow_into_pack_sequences(self, spark):
        """The corpus pipeline accepts subword budgets: encode_bpe's
        n_tokens_bpe feeds pack_sequences as the token-count column, and
        the packs conserve the total subword count exactly."""
        from ethereum_etl_spark.operators.corpus import pack_sequences

        docs = spark.createDataFrame(
            [(i, "the cat sat on the mat " * (i + 1)) for i in range(20)],
            "doc_id long, text string",
        )
        merges = train_bpe(bpe_word_table(docs), merges=4)
        enc = encode_bpe(docs, [(m["left_sym"], m["right_sym"]) for m in merges])
        total = enc.agg(F.sum("n_tokens_bpe")).collect()[0][0]
        packs = pack_sequences(
            enc.select("doc_id", F.col("n_tokens_bpe").alias("n_tokens")),
            max_tokens=64, n_streams=4,
        )
        packed_total = packs.agg(
            F.sum(F.col("doc_to") - F.col("doc_from"))
        ).collect()[0][0]
        assert packed_total == total > 0


# ---------------- IVF x int8 composition ----------------

class TestIvfQuantized:
    def _emb(self, spark, n=60, dim=8):
        import hashlib

        def vec(i):
            h = hashlib.sha256(str(i).encode()).digest()
            return [((b % 64) - 32) / 16.0 for b in h[:dim]]

        rows = [(i, vec(i)) for i in range(n)]
        # plant a near-duplicate of vector 0 at id 1000
        rows.append((1000, [v * 1.01 + 0.001 for v in vec(0)]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_planted_near_dup_is_top1(self, spark):
        emb = self._emb(spark)
        cent = emb.filter(F.col("vec_id") % 10 == 0)
        out = ivf_quantized_topk(
            emb, emb.filter(F.col("vec_id") == 0), cent, k=3, nprobe=2, rerank=12
        ).collect()
        top1 = [r for r in out if r["rank"] == 1][0]
        assert top1["neighbor_id"] == 1000 and top1["cos_sim"] > 0.999

    def test_full_probe_full_rerank_equals_brute_force(self, spark):
        """With nprobe >= n_cells and rerank >= corpus size the composition
        must degenerate to exact brute force (same neighbors, same order)."""
        emb = self._emb(spark, n=40)
        cent = emb.filter(F.col("vec_id") % 10 == 0)
        q = emb.filter(F.col("vec_id") < 2)
        composed = ivf_quantized_topk(emb, q, cent, k=5, nprobe=100, rerank=1000)
        brute = brute_force_topk(emb, q, k=5)
        key = lambda rows: sorted(
            (r["query_id"], r["rank"], r["neighbor_id"]) for r in rows
        )
        assert key(composed.collect()) == key(brute.collect())


# ---------------- real two-thread OCC race ----------------

class TestOccThreadRace:
    def test_two_threads_both_land(self, spark, tmp_path):
        """Two writers on ONE table race real commits from real threads
        (no monkeypatch, no sleeps): a barrier aligns their merge calls,
        conflict_retries absorbs whoever loses the pointer CAS, and the
        final state must equal the serial oracle — both batches committed,
        all 20 (disjoint-key) rows present, snapshot ids strictly ordered."""
        root = str(tmp_path / "race")
        results: dict[str, object] = {}
        barrier = threading.Barrier(2)

        def writer(tag: str, i: int):
            t = MergeTable(spark, root, n_buckets=4)
            rows = [
                (i * 1000 + j, f"r{j % 3}", f"f{j}.py", f"c{i}_{j}", f"v{i}")
                for j in range(10)
            ]
            df = spark.createDataFrame(
                rows, "seq long, repo string, path string, commit string, content string"
            )
            barrier.wait(timeout=60)
            try:
                results[tag] = t.merge(df, f"t{i}", conflict_retries=4)
            except Exception as e:  # pragma: no cover - fail loudly below
                results[tag] = e

        threads = [
            threading.Thread(target=writer, args=(tag, i))
            for i, tag in enumerate(["a", "b"])
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
        assert not any(isinstance(v, Exception) for v in results.values()), results
        reader = MergeTable(spark, root, n_buckets=4)
        snap = reader.current_snapshot()
        assert set(snap["committed_batches"]) == {"t0", "t1"}
        assert reader.read().count() == 20
        # both writers observed distinct snapshot ids (no lost update)
        ids = {results["a"].snapshot_id, results["b"].snapshot_id}
        assert len(ids) == 2


class TestPackStreamsAuto:
    def test_auto_sizes_streams_and_conserves_tokens(self, spark):
        from ethereum_etl_spark.operators.corpus import pack_sequences

        docs = spark.createDataFrame(
            [(i, 10 + (i % 7)) for i in range(300)], "doc_id long, n_tokens long"
        )
        packs = pack_sequences(
            docs, max_tokens=64, n_streams="auto", auto_docs_per_stream=50
        )
        total = packs.agg(F.sum(F.col("doc_to") - F.col("doc_from"))).collect()[0][0]
        assert total == docs.agg(F.sum("n_tokens")).collect()[0][0]
        assert packs.select("stream_id").distinct().count() == 6  # 300 // 50

    def test_auto_rejects_garbage(self, spark):
        from ethereum_etl_spark.operators.corpus import pack_sequences

        docs = spark.createDataFrame([(1, 5)], "doc_id long, n_tokens long")
        with pytest.raises(ValueError):
            pack_sequences(docs, max_tokens=8, n_streams="many")
