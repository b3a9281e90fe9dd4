"""Round-4 regression tests: ADVICE fixes (NaN guard in the sloppy
closed form with a custom Similarity, dedicated queue-budget exception,
AQE restore) and the cosine_pairs quadratic guard."""

import numpy as np
import pytest


class TestSloppyClosedFormNaN:
    def test_custom_sf_zero_inwindow_no_nan(self):
        """A custom sf returning 0.0 for an in-window distance combined
        with inf-overflowed 2^i multiplicities (anchor i >= 1026) must
        not produce NaN (= silent doc dropout). ADVICE r3 item 1."""
        from lucene_spark.search.phrase import sloppy_freq_batch

        A = np.arange(1100, dtype=np.int64)
        B = np.array([1099], dtype=np.int64)

        def sf_np(d):
            # zero weight exactly where the last (inf-multiplicity)
            # anchor lands in-window at d == 0
            return np.where(d == 0, 0.0, 1.0 / (d + 1.0))

        slots = [(A, [0], [len(A)]), (B, [0], [1])]
        out = sloppy_freq_batch(slots, [0, 0], 2, sf_np=sf_np)[0]
        assert not np.isnan(out)
        # anchors 1097/1098 are in-window with nonzero sf and inf
        # multiplicity -> total clamps at the finite max
        assert out == 1.7e308

    def test_default_sf_parity_unchanged(self):
        """The zero-indexing must not change the default-path value
        (cross-check vs the reference queue on small cases)."""
        from lucene_spark.search.phrase import (
            sloppy_freq_batch,
            sloppy_phrase_freq,
        )

        rng = np.random.default_rng(7)
        for _ in range(50):
            a = np.sort(rng.choice(60, size=rng.integers(1, 8), replace=False))
            b = np.sort(rng.choice(60, size=rng.integers(1, 8), replace=False))
            slop = int(rng.integers(0, 6))
            want = sloppy_phrase_freq([list(a), list(b)], [0, 1], slop)
            slots = [(a, [0], [len(a)]), (b, [0], [len(b)])]
            got = sloppy_freq_batch(slots, [0, 1], slop)[0]
            assert got == pytest.approx(want, rel=1e-9, abs=1e-12)


class TestQueueBudgetException:
    def test_dedicated_type(self, monkeypatch):
        import lucene_spark.search.phrase as ph

        monkeypatch.setattr(ph, "QUEUE_CANDIDATE_BUDGET", 4)
        positions = [[1, 5, 9, 13], [2, 6, 10, 14], [3, 7, 11, 15]]
        with pytest.raises(ph.PhraseQueueBudgetExceeded):
            ph.sloppy_phrase_freq(positions, [0, 1, 2], slop=50)
        # still a RuntimeError so broad pre-existing handlers keep working
        assert issubclass(ph.PhraseQueueBudgetExceeded, RuntimeError)


class TestDistributedExpansion:
    """Round-4: wildcard/fuzzy/range expansion runs JVM-side over the
    term_dict scan; the driver never pages the dictionary."""

    def test_fuzzy_prefix0_no_driver_pagination(self, spark_index, monkeypatch):
        """prefix_length=0 fuzzy (the round-3 verdict's driver-scan
        defect) must not touch terms_from at all."""
        from lucene_spark.index.builder import SparkIndex
        from lucene_spark.search.query import FuzzyQuery, Term

        def boom(*a, **k):
            raise AssertionError("driver dictionary pagination used")

        monkeypatch.setattr(SparkIndex, "terms_from", boom)
        q = FuzzyQuery(Term("spark", "text"), 0.5, prefix_length=0)
        out = q.rewrite(spark_index)
        terms = {t.text for t in out.query_terms()}
        assert "spark" in terms

    def test_wildcard_no_driver_pagination(self, spark_index, monkeypatch):
        from lucene_spark.index.builder import SparkIndex
        from lucene_spark.search.query import Term, WildcardQuery

        def boom(*a, **k):
            raise AssertionError("driver dictionary pagination used")

        monkeypatch.setattr(SparkIndex, "terms_from", boom)
        q = WildcardQuery(Term("sea*", "text"))
        out = q.rewrite(spark_index)
        assert {t.text for t in out.query_terms()} >= {"search"}

    @pytest.mark.parametrize(
        "qs",
        [
            "text:tab*",
            "text:s?ark",
            "text:[order TO spark]",
            "text:{merge TO token}",
        ],
    )
    def test_expansion_parity_vs_model(self, spark_index, model_index, qs):
        """The distributed (JVM-filter) expansion and the model's
        reference-literal terms_from loop must select identical term
        sets and produce identical ranked results."""
        from lucene_spark.search.executor import SparkSearcher
        from lucene_spark.search.query import WildcardQuery

        old = WildcardQuery.min_prefix_length
        WildcardQuery.min_prefix_length = 1
        try:
            got = sorted(
                (r["doc_id"], round(r["score"], 9))
                for r in SparkSearcher(spark_index)
                .search(qs, k=0, score_mode="bm25")
                .collect()
            )
            want = sorted(
                (h.doc_id, round(h.score, 9))
                for h in model_index.find(qs, score_mode="bm25")
            )
        finally:
            WildcardQuery.min_prefix_length = old
        assert [g[0] for g in got] == [w[0] for w in want]
        for g, w in zip(got, want):
            assert g[1] == pytest.approx(w[1], abs=1e-6)

    def test_fuzzy_parity_vs_model(self, spark_index, model_index):
        from lucene_spark.search.executor import SparkSearcher
        from lucene_spark.search.query import FuzzyQuery, Term

        q = FuzzyQuery(Term("spork", "text"), 0.4, prefix_length=0)
        got = sorted(
            (r["doc_id"], round(r["score"], 9))
            for r in SparkSearcher(spark_index)
            .search(q, k=0, score_mode="bm25")
            .collect()
        )
        q2 = FuzzyQuery(Term("spork", "text"), 0.4, prefix_length=0)
        want = sorted(
            (h.doc_id, round(h.score, 9))
            for h in model_index.find(q2, score_mode="bm25")
        )
        assert [g[0] for g in got] == [w[0] for w in want]
        for g, w in zip(got, want):
            assert g[1] == pytest.approx(w[1], abs=1e-6)

    def test_term_limit_still_raises(self, spark_index):
        """The reference's 'Terms per query limit is reached' must
        survive the distributed path (cap counts authoritative
        matches)."""
        import lucene_spark.search.query as qmod
        from lucene_spark.search.query import Term, WildcardQuery

        old = qmod.TERMS_PER_QUERY_LIMIT
        qmod.TERMS_PER_QUERY_LIMIT = 3
        oldp = WildcardQuery.min_prefix_length
        WildcardQuery.min_prefix_length = 1
        try:
            with pytest.raises(ValueError, match="limit"):
                WildcardQuery(Term("s*", "text")).rewrite(spark_index)
        finally:
            qmod.TERMS_PER_QUERY_LIMIT = old
            WildcardQuery.min_prefix_length = oldp


class TestMergedMultiIndexExpansion:
    """Round-4: MultiSearcher rewrites once against the union of shard
    dictionaries (reference TermStreamsPriorityQueue.php:222-330), so
    expansion caps select ONE global term set."""

    @pytest.fixture(scope="class")
    def shards(self, spark, transcripts_df, tmp_path_factory):
        from pyspark.sql import functions as F

        from lucene_spark.index import IndexConfig, build_index

        convs = sorted(
            r["conv_id"]
            for r in transcripts_df.select("conv_id").distinct().collect()
        )
        head = set(convs[: len(convs) // 2])
        df_a = transcripts_df.where(F.col("conv_id").isin(list(head)))
        df_b = transcripts_df.where(~F.col("conv_id").isin(list(head)))
        cfg = IndexConfig(seg_size=100)
        ix_a = build_index(
            spark, df_a, str(tmp_path_factory.mktemp("ms_a")), cfg
        )
        ix_b = build_index(
            spark, df_b, str(tmp_path_factory.mktemp("ms_b")), cfg
        )
        return ix_a, ix_b

    def test_merged_terms_stream(self, shards):
        """MultiSearcher.terms_from == sorted dedup union of shards."""
        from lucene_spark.search.multi import MultiSearcher

        ix_a, ix_b = shards
        ms = MultiSearcher([ix_a, ix_b])
        merged = list(ms.terms_from("text", "s"))
        want = sorted(
            set(ix_a.terms_from("text", "s")) | set(ix_b.terms_from("text", "s"))
        )
        assert merged == want
        assert merged == sorted(set(merged))  # deduped + sorted

    def test_global_expansion_selects_one_term_set(self, shards, monkeypatch):
        """With a tight clause cap, per-shard expansion could pick
        different term subsets per shard; the merged rewrite must pick
        ONE global set — identical to the expansion over a single
        merged dictionary."""
        from lucene_spark.search import query as qmod
        from lucene_spark.search.multi import MultiSearcher
        from lucene_spark.search.query import FuzzyQuery, Term

        ix_a, ix_b = shards
        ms = MultiSearcher([ix_a, ix_b])
        q = FuzzyQuery(Term("spork", "text"), 0.4, prefix_length=0)
        rewritten = q.rewrite(ms)
        got = sorted(t.text for t in rewritten.query_terms())
        # oracle: expansion over the union dictionary, same formula
        import lucene_spark.search.query as qq

        cands = sorted(
            set(ix_a.terms_from("text")) | set(ix_b.terms_from("text"))
        )
        want = []
        for text in cands:
            sim = 1.0 - qq._levenshtein("spork", text) / min(5, len(text))
            if sim > 0.4:
                want.append(text)
        assert got == sorted(want)
        assert got  # non-trivial expansion

    def test_multisearcher_search_results_unchanged(self, shards, spark,
                                                    transcripts_df,
                                                    tmp_path_factory):
        """End-to-end: sharded wildcard search == single-index search
        (conv-ordered split ⇒ shifted ids align)."""
        from lucene_spark.index import IndexConfig, build_index
        from lucene_spark.search.executor import SparkSearcher
        from lucene_spark.search.multi import MultiSearcher

        ix_a, ix_b = shards
        d_m = str(tmp_path_factory.mktemp("ms_m"))
        ix_m = build_index(spark, transcripts_df, d_m, IndexConfig(seg_size=100))
        ms = MultiSearcher([ix_a, ix_b])
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in ms.search(
                "text:sea*", k=15, global_stats=True
            ).collect()
        ]
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in SparkSearcher(ix_m).search("text:sea*", k=15).collect()
        ]
        assert [g[0] for g in got] == [w[0] for w in want]
        for g, w in zip(got, want):
            assert g[1] == pytest.approx(w[1], abs=1e-6)


class TestBooleanTermBatching:
    """Round-4: TermQuery children of a BooleanQuery execute as ONE
    leaf decode (per-qid boosts), not one scan per clause."""

    def test_boosted_boolean_parity(self, spark_index, model_index):
        from lucene_spark.search.executor import SparkSearcher
        from lucene_spark.search.query import BooleanQuery, Term, TermQuery

        def build():
            q = BooleanQuery()
            for text, boost, sign in [
                ("spark", 2.5, None),
                ("index", 1.0, None),
                ("table", 0.25, None),
                ("vector", 3.0, False),
            ]:
                sub = TermQuery(Term(text, "text"))
                sub.boost = boost
                q.add_subquery(sub, sign)
            return q

        for mode in ("bm25", "classic"):
            got = sorted(
                (r["doc_id"], round(r["score"], 9))
                for r in SparkSearcher(spark_index)
                .search(build(), k=0, score_mode=mode)
                .collect()
            )
            want = sorted(
                (h.doc_id, round(h.score, 9))
                for h in model_index.find(build(), score_mode=mode)
            )
            assert [g[0] for g in got] == [w[0] for w in want], mode
            for g, w in zip(got, want):
                assert g[1] == pytest.approx(w[1], abs=1e-6), mode

    def test_duplicate_terms_keep_per_clause_semantics(
        self, spark_index, model_index
    ):
        """Two clauses with the SAME term must still contribute two
        rows per doc (the duplicate routes to the per-clause path)."""
        from lucene_spark.search.executor import SparkSearcher
        from lucene_spark.search.query import BooleanQuery, Term, TermQuery

        def build():
            q = BooleanQuery()
            a = TermQuery(Term("spark", "text"))
            a.boost = 2.0
            b = TermQuery(Term("spark", "text"))
            b.boost = 0.5
            q.add_subquery(a, None)
            q.add_subquery(b, None)
            q.add_subquery(TermQuery(Term("index", "text")), None)
            return q

        got = sorted(
            (r["doc_id"], round(r["score"], 9))
            for r in SparkSearcher(spark_index)
            .search(build(), k=0, score_mode="bm25")
            .collect()
        )
        want = sorted(
            (h.doc_id, round(h.score, 9))
            for h in model_index.find(build(), score_mode="bm25")
        )
        assert [g[0] for g in got] == [w[0] for w in want]
        for g, w in zip(got, want):
            assert g[1] == pytest.approx(w[1], abs=1e-6)


class TestCosinePairsGuard:
    def test_refuses_large_input(self, spark, monkeypatch):
        import lucene_spark.ops.similarity as sim

        monkeypatch.setattr(sim, "COSINE_PAIRS_MAX_ROWS", 10)
        df = spark.range(25).selectExpr(
            "id", "array(cast(id as double), 1.0d) as v"
        )
        with pytest.raises(ValueError, match="rp_lsh_pairs"):
            sim.cosine_pairs(df, "id", "v", 0.5)
        # explicit opt-in still runs
        out = sim.cosine_pairs(df, "id", "v", 0.99, allow_quadratic=True)
        assert out.count() > 0

    def test_small_input_unaffected(self, spark):
        from lucene_spark.ops.similarity import cosine_pairs

        df = spark.range(5).selectExpr(
            "id", "array(1.0d, cast(id as double)) as v"
        )
        assert cosine_pairs(df, "id", "v", threshold=-1.0).count() == 10


class TestPositionAwareDocFilter:
    """Round-4: '+conv_id:X +text:"phrase"' row-filters the phrase's
    position decode (decode_postings now supports doc_filter with
    need_positions)."""

    def test_decode_positions_with_filter(self, spark_index):
        from lucene_spark.search.executor import decode_postings
        from lucene_spark.search.query import Term

        full = decode_postings(
            spark_index, [Term("spark", "text")], need_positions=True
        ).toPandas()
        cand = np.sort(full["doc_id"].to_numpy(np.int64))[::2].copy()
        filt = decode_postings(
            spark_index,
            [Term("spark", "text")],
            need_positions=True,
            doc_filter=cand,
        ).toPandas()
        assert set(filt["doc_id"]) == set(cand)
        fidx = full.set_index("doc_id")
        for _, row in filt.iterrows():
            assert list(row["positions"]) == list(
                fidx.loc[row["doc_id"], "positions"]
            )

    @pytest.mark.parametrize(
        "qs",
        [
            '+conv_id:conv00000000 +text:"spark spark"',
            '+role:user +text:"spark index"~2',
        ],
    )
    def test_scoped_phrase_parity(self, spark_index, model_index, qs,
                                  monkeypatch):
        """Force the conjunction restriction + candidate fetch to
        engage (quantum 1, no df gate) and require full model parity."""
        import lucene_spark.search.executor as ex
        from lucene_spark.search.executor import SparkSearcher

        monkeypatch.setattr(ex, "RANGE_PRUNE_QUANTUM", 1)
        got = sorted(
            (r["doc_id"], round(r["score"], 9))
            for r in SparkSearcher(spark_index)
            .search(qs, k=0, score_mode="bm25")
            .collect()
        )
        want = sorted(
            (h.doc_id, round(h.score, 9))
            for h in model_index.find(qs, score_mode="bm25")
        )
        assert got, qs  # non-vacuous: the scoped phrase must match docs
        assert [g[0] for g in got] == [w[0] for w in want], qs
        for g, w in zip(got, want):
            assert g[1] == pytest.approx(w[1], abs=1e-6)


class TestMultilingualLangId:
    """10-language char-trigram language ID (ops.lang_id_ngram) on
    everyday sentences and on junk."""

    def test_real_sentences(self, spark):
        from lucene_spark.ops.textstats import LANG_NGRAM_MIN_SCORE, lang_id_ngram

        samples = [
            ("de", "der hund und die katze sind nicht mit dem auto zu "
                   "hause geblieben weil das wetter ist schlecht"),
            ("en", "the quick brown fox jumped over the lazy dog and it "
                   "was chased by the farmer for an hour in the field"),
            ("es", "el perro y el gato de la casa corren por el parque "
                   "con una pelota para que los ninos jueguen"),
            ("fr", "le chien et le chat de la maison courent dans le "
                   "parc avec une balle pour que les enfants jouent"),
            ("id", "anjing dan kucing itu berlari di taman dengan bola "
                   "untuk anak anak yang sedang bermain di sana"),
            ("it", "il cane e il gatto della casa corrono nel parco con "
                   "una palla per i bambini che sono felici"),
            ("nl", "de hond en de kat van het huis rennen in het park "
                   "met een bal voor de kinderen die niet moe zijn"),
            ("pt", "o cachorro e o gato da casa correm no parque com "
                   "uma bola para que as criancas possam brincar"),
            ("sv", "hunden och katten som bor i huset springer i parken "
                   "med en boll till barnen som inte har det"),
            ("tr", "evdeki kopek ve kedi parkta bir top ile cocuklar "
                   "icin kosuyor ve bu cok guzel bir gun ama yorgun"),
        ]
        df = spark.createDataFrame(
            [(i, t) for i, (_l, t) in enumerate(samples)],
            "id long, text string",
        )
        out = {
            r["id"]: (r["lang"], r["best_score"])
            for r in lang_id_ngram(df, "id", "text").collect()
        }
        for i, (want_lang, _t) in enumerate(samples):
            got_lang, score = out[i]
            assert got_lang == want_lang, (want_lang, got_lang, score)
            assert score >= LANG_NGRAM_MIN_SCORE

    def test_und_on_gibberish(self, spark):
        from lucene_spark.ops.textstats import lang_id_ngram

        df = spark.createDataFrame(
            [(0, "zzqx vvkpt lmnor aaa111 brzk xyzzy"), (1, "")],
            "id long, text string",
        )
        out = {r["id"]: r["lang"] for r in lang_id_ngram(df, "id", "text").collect()}
        assert out == {0: "und", 1: "und"}


class TestMediaHeadersAV:
    """Round-4: stdlib RIFF/WAV and ISO-BMFF/MP4 header parsing —
    multimodal metadata for all three modalities is real byte parsing,
    not a stub."""

    def test_wav_roundtrip_fixtures(self):
        from lucene_spark.ops.media_headers import (
            fixture_audio, parse_wav_header, synth_wav)

        for i in range(300):
            rate, ch, ns = fixture_audio(i)
            assert parse_wav_header(synth_wav(i)) == (ch, rate, 16, ns)

    def test_wav_matches_stdlib_wave_module(self):
        import io
        import wave

        from lucene_spark.ops.media_headers import parse_wav_header

        buf = io.BytesIO()
        w = wave.open(buf, "wb")
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(22050)
        w.writeframes(b"\x00\x00" * 2 * 777)
        w.close()
        assert parse_wav_header(buf.getvalue()) == (2, 22050, 16, 777)

    def test_wav_extra_chunk_and_odd_padding(self):
        import struct

        from lucene_spark.ops.media_headers import parse_wav_header

        # LIST chunk with odd length (padded) BEFORE fmt/data
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        data = b"\x00" * (10 * 2)
        body = (
            b"WAVE"
            + b"LIST" + struct.pack("<I", 3) + b"abc\x00"  # odd size + pad
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        blob = b"RIFF" + struct.pack("<I", len(body)) + body
        assert parse_wav_header(blob) == (1, 8000, 16, 10)

    def test_wav_negatives(self):
        import struct

        from lucene_spark.ops.media_headers import parse_wav_header, synth_mp4

        assert parse_wav_header(b"") is None
        assert parse_wav_header(b"RIFFxxxxWAVE") is None
        assert parse_wav_header(synth_mp4(1)) is None
        # data chunk before fmt → malformed
        blob = (
            b"RIFF" + struct.pack("<I", 16) + b"WAVE"
            + b"data" + struct.pack("<I", 4) + b"abcd"
        )
        assert parse_wav_header(blob) is None

    def test_mp4_roundtrip_fixtures(self):
        from lucene_spark.ops.media_headers import (
            fixture_video, parse_mp4_header, synth_mp4)

        for i in range(300):
            assert parse_mp4_header(synth_mp4(i)) == fixture_video(i)

    def test_mp4_version1_mvhd(self):
        import struct

        from lucene_spark.ops.media_headers import parse_mp4_header

        def box(tag, payload):
            return struct.pack(">I", len(payload) + 8) + tag + payload

        mvhd = box(
            b"mvhd",
            struct.pack(">B", 1) + b"\x00\x00\x00"
            + struct.pack(">QQ", 0, 0)          # ctime, mtime (u64)
            + struct.pack(">I", 90000)          # timescale
            + struct.pack(">Q", 123456789),     # duration (u64)
        )
        blob = box(b"ftyp", b"isom") + box(b"moov", mvhd)
        assert parse_mp4_header(blob) == (90000, 123456789)

    def test_mp4_negatives(self):
        from lucene_spark.ops.media_headers import parse_mp4_header, synth_wav

        assert parse_mp4_header(b"") is None
        assert parse_mp4_header(synth_wav(1)) is None
        assert parse_mp4_header(b"\x00\x00\x00\x08ftyp") is None

    def test_spark_extract_audio_video(self, spark):
        from lucene_spark.ops.multimodal import (
            attach_synthetic_audio,
            attach_synthetic_video,
            extract_audio_meta,
            extract_video_meta,
        )
        from lucene_spark.ops.media_headers import fixture_audio, fixture_video

        ids = spark.range(50)
        audio = {
            r["id"]: (r["channels"], r["sample_rate"], r["bits"],
                      r["n_samples"], r["duration_ms"])
            for r in extract_audio_meta(
                attach_synthetic_audio(ids, "id")
            ).collect()
        }
        video = {
            r["id"]: (r["timescale"], r["duration_units"], r["duration_ms"])
            for r in extract_video_meta(
                attach_synthetic_video(ids, "id")
            ).collect()
        }
        for i in range(50):
            rate, ch, ns = fixture_audio(i)
            assert audio[i] == (ch, rate, 16, ns, ns * 1000 // rate)
            ts, dur = fixture_video(i)
            assert video[i] == (ts, dur, dur * 1000 // ts)


class TestMediaPlanners:
    """plan_resize / plan_frame_samples: metadata-only Catalyst planning
    stages for the decode seam (round-4 multimodal additions)."""

    def test_resize_plan_math(self, spark):
        from lucene_spark.ops.multimodal import plan_resize

        rows = [
            (0, 100, 50),    # fits at max_side=100: untouched
            (1, 200, 100),   # 2x downscale
            (2, 100, 200),   # portrait: long side capped
            (3, 1000, 3),    # extreme aspect: short side floors at 1
            (4, 1, 1),       # tiny: never upscaled
            (5, 101, 101),   # just over: floor division
        ]
        df = spark.createDataFrame(rows, "id long, width long, height long")
        got = {r["id"]: r for r in plan_resize(df, max_side=100).collect()}
        assert (got[0]["out_width"], got[0]["out_height"], got[0]["scaled"]) == (100, 50, False)
        assert (got[1]["out_width"], got[1]["out_height"], got[1]["scaled"]) == (100, 50, True)
        assert (got[2]["out_width"], got[2]["out_height"], got[2]["scaled"]) == (50, 100, True)
        assert (got[3]["out_width"], got[3]["out_height"]) == (100, 1)
        assert (got[4]["out_width"], got[4]["out_height"], got[4]["scaled"]) == (1, 1, False)
        assert (got[5]["out_width"], got[5]["out_height"]) == (100, 100)
        for r in got.values():  # invariant: never upscale, long side <= cap
            assert r["out_width"] <= max(r["width"], 100)
            assert max(r["out_width"], r["out_height"]) <= max(
                100, max(r["width"], r["height"])
            )
        with pytest.raises(ValueError):
            plan_resize(df, max_side=0)

    def test_frame_plan_math(self, spark):
        from lucene_spark.ops.multimodal import plan_frame_samples

        df = spark.createDataFrame(
            [(0, 1000), (1, 7), (2, 0)], "id long, duration_ms long"
        )
        out = plan_frame_samples(df, n_frames=4).collect()
        by_id = {}
        for r in out:
            by_id.setdefault(r["id"], []).append((r["frame_idx"], r["ts_ms"]))
        for i in by_id:
            by_id[i].sort()
        assert by_id[0] == [(0, 0), (1, 250), (2, 500), (3, 750)]
        assert by_id[1] == [(0, 0), (1, 1), (2, 3), (3, 5)]  # floor(7i/4)
        assert by_id[2] == [(0, 0), (1, 0), (2, 0), (3, 0)]
        # invariants: n rows per video, ts strictly below duration, monotone
        for i, pairs in by_id.items():
            assert len(pairs) == 4
            ts = [t for _, t in pairs]
            assert ts == sorted(ts)
        with pytest.raises(ValueError):
            plan_frame_samples(df, n_frames=0)


class TestContamination:
    def test_flags_and_broadcast_plan(self, spark):
        from lucene_spark.ops.dedup import contamination_flags

        corpus = spark.createDataFrame(
            [
                (0, "alpha beta gamma delta epsilon"),   # contains bench 10
                (1, "zeta eta theta iota"),              # disjoint
                (2, "alpha beta gamma zeta"),            # 2 shared 3-grams? no: 1
                (3, "alpha beta gamma delta zeta"),      # shares 2 shingles
            ],
            "id long, text string",
        )
        bench = spark.createDataFrame(
            [(10, "alpha beta gamma delta epsilon")], "bid long, btext string"
        )
        out = contamination_flags(
            corpus, bench, "id", "text", "bid", "btext",
            shingle_n=3, min_shared=2,
        )
        got = {r["id"]: (r["n_shared"], r["n_bench_docs"], r["contaminated"])
               for r in out.collect()}
        # doc 0 = identical: 3 shingles shared; doc 2 shares only
        # 'alpha beta gamma'; doc 3 shares that + 'beta gamma delta'
        assert got[0] == (3, 1, True)
        assert got[2] == (1, 1, False)
        assert got[3] == (2, 1, True)
        assert 1 not in got  # disjoint docs are absent, not false rows
        # the bench side must broadcast: the corpus is never shuffled
        # for the join itself
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        with pytest.raises(ValueError):
            contamination_flags(corpus, bench, "id", "text", "bid", "btext",
                                min_shared=0)


class TestQuantizeEmbeddings:
    def test_dequant_error_and_edges(self, spark):
        import math

        from lucene_spark.ops.similarity import quantize_embeddings

        rows = [
            (0, [1.0, -0.5, 0.25, 0.0]),
            (1, [0.0, 0.0, 0.0, 0.0]),          # zero vector
            (2, [-3.0, 3.0, 1.5, -1.5]),
            (3, [1e-8, -1e-8, 5e-9, 0.0]),      # tiny magnitudes
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {r["id"]: r for r in quantize_embeddings(df).collect()}
        for vid, vec in rows:
            r = got[vid]
            amax = max(abs(x) for x in vec)
            assert math.isclose(r["scale"], amax / 127.0, rel_tol=1e-12)
            assert all(-127 <= q <= 127 for q in r["q"])
            if amax == 0:
                assert list(r["q"]) == [0, 0, 0, 0]
                continue
            for x, q in zip(vec, r["q"]):
                # per-component dequantization error bound: scale/2
                assert abs(x - q * r["scale"]) <= r["scale"] / 2 + 1e-15
            # max-magnitude component maps to ±127 exactly
            imax = max(range(len(vec)), key=lambda i: abs(vec[i]))
            assert abs(r["q"][imax]) == 127
