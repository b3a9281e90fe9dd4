"""Round-3 additions: pluggable Similarity (reference setDefault),
stdlib image-header parsing, DOM-aware HTML highlighting."""

import math

import pytest

from lucene_spark.ops.media_headers import (
    fixture_dims,
    parse_image_header,
    parse_jpeg_header,
    parse_png_header,
    synth_jpeg,
    synth_media,
    synth_png,
)
from lucene_spark.search.html_highlight import (
    HIGHLIGHT_COLORS,
    color_groups,
    highlight_html_text,
)
from lucene_spark.search.similarity import (
    Similarity,
    get_default,
    set_default,
)


# ------------------------------------------------------- media headers


def test_png_jpeg_header_roundtrip():
    for i in [0, 1, 2, 3, 6, 9, 15, 639, 640, 641, 12345]:
        blob = synth_media(i)
        parsed = parse_image_header(blob)
        assert parsed is not None, i
        fmt, w, h, c = parsed
        ew, eh = fixture_dims(i)
        assert (w, h) == (ew, eh), i
        if i % 2 == 0:
            assert fmt == "png" and c == 4
        else:
            assert fmt == "jpeg"
            assert c == (1 if i % 3 == 0 else 3)


def test_header_parse_rejects_garbage():
    assert parse_image_header(b"") is None
    assert parse_image_header(b"not an image at all") is None
    assert parse_image_header(b"\x89PNG\r\n\x1a\n" + b"\x00" * 8) is None
    assert parse_image_header(b"\xff\xd8\xff\xd9") is None  # SOI+EOI only
    # truncated SOF segment
    assert parse_jpeg_header(b"\xff\xd8\xff\xc0\x00\x09\x08\x00\x10") is None


def test_jpeg_walks_past_non_sof_segments():
    # valid JPEG with APP0 before SOF0 — the walker must skip it
    blob = synth_jpeg(7)
    assert parse_jpeg_header(blob) == (16 + 7, 16 + 49, 3)


def test_png_zero_dims_rejected():
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", 0, 10, 8, 2, 0, 0, 0)
    chunk = (
        struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    assert parse_png_header(b"\x89PNG\r\n\x1a\n" + chunk) is None


def test_extract_image_dims_spark(spark):
    from pyspark.sql import functions as F

    from lucene_spark.ops.multimodal import (
        attach_synthetic_media,
        extract_image_dims,
    )

    ids = spark.range(50).select(F.col("id"))
    dims = extract_image_dims(attach_synthetic_media(ids, "id"))
    rows = {r["id"]: r for r in dims.collect()}
    assert len(rows) == 50
    for i in range(50):
        ew, eh = fixture_dims(i)
        r = rows[i]
        assert (r["width"], r["height"]) == (ew, eh)
        assert r["format"] == ("png" if i % 2 == 0 else "jpeg")


def test_extract_image_dims_null_for_non_image(spark):
    pdf_rows = [(1, bytearray(b"plain text")), (2, bytearray(synth_png(2)))]
    df = spark.createDataFrame(pdf_rows, "id long, payload binary")
    from lucene_spark.ops.multimodal import extract_image_dims

    got = {r["id"]: r for r in extract_image_dims(df).collect()}
    assert got[1]["format"] is None and got[1]["width"] is None
    assert got[2]["format"] == "png"


# -------------------------------------------------- DOM HTML highlight


def test_highlight_colors_rotate_per_clause():
    from lucene_spark.search.parser import parse_query

    q = parse_query("text:alpha OR text:beta OR text:gamma")
    groups = color_groups(q)
    # reference: Boolean recurses per subquery — one highlight() call
    # (one color) per clause, rotating through the fixed palette
    assert [g[1] for g in groups] == HIGHLIGHT_COLORS[: len(groups)]
    html = "<p>alpha beta gamma delta</p>"
    out = highlight_html_text(html, groups)
    for term, (_, color) in zip(["alpha", "beta", "gamma"], groups):
        assert f'background-color:{color}">{term}</b>' in out
    assert "delta</p>" in out  # non-matching text untouched


def test_highlight_skips_script_tags_and_attributes():
    groups = [(["table"], "#66ffff")]
    html = (
        '<div data-x="table"><script>var table = 1;</script>'
        "<p>a table here</p><!-- table --></div>"
    )
    out = highlight_html_text(html, groups)
    assert out.count("<b style=") == 1
    assert 'data-x="table"' in out
    assert "var table = 1;" in out
    assert "<!-- table -->" in out


def test_highlight_token_boundaries_and_entities():
    groups = [(["cat"], "#ff8888")]
    out = highlight_html_text("<p>cat category concat &amp; cat</p>", groups)
    # whole analyzed tokens only — 'category'/'concat' untouched
    assert out.count("<b style=") == 2
    assert "category" in out and "concat &amp;" in out


def test_highlight_prohibited_clause_excluded():
    from lucene_spark.search.parser import parse_query

    q = parse_query("+text:keep -text:drop")
    groups = color_groups(q)
    terms = [t for g, _ in groups for t in g]
    assert "keep" in terms and "drop" not in terms


def test_highlight_matches_dataframe(spark):
    from lucene_spark.search.html_highlight import highlight_matches
    from lucene_spark.search.parser import parse_query

    df = spark.createDataFrame(
        [(1, "<body><p>spark and flink</p></body>")], "id long, html string"
    )
    q = parse_query("text:spark OR text:flink")
    out = highlight_matches(df, "html", q).collect()[0]["highlighted"]
    assert f'background-color:{HIGHLIGHT_COLORS[0]}">spark</b>' in out
    assert f'background-color:{HIGHLIGHT_COLORS[1]}">flink</b>' in out


# ------------------------------------------------------ trained IVF


@pytest.fixture(scope="module")
def blob_embeddings(spark):
    """8 well-separated Gaussian blobs in 16-dim: ids 0-399, blob =
    id % 8. Deterministic — centers are unit axes pairs, noise seeded."""
    import numpy as np

    rng = np.random.default_rng(42)
    centers = np.zeros((8, 16))
    for b in range(8):
        centers[b, 2 * b] = 1.0
        centers[b, 2 * b + 1] = 0.5
    rows = []
    for i in range(400):
        b = i % 8
        v = centers[b] + rng.normal(0, 0.05, 16)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "id long, emb array<double>"), centers


def test_ivf_trained_recall_curve(spark, blob_embeddings):
    """Trained quantizer makes the recall/probe trade-off measurable:
    recall@10 is monotone in n_probe and exactly 1.0 at n_probe=k
    (probing every bucket ≡ brute force — the exactness oracle)."""
    from lucene_spark.ops.similarity import (
        brute_force_topk,
        ivf_topk_trained,
        train_ivf_centroids,
    )

    df, centers = blob_embeddings
    cents = train_ivf_centroids(df, "id", "emb", k=8, n_iter=5)
    assert len(cents) == 8
    q = [float(x) for x in centers[3]]
    exact = {r["id"] for r in brute_force_topk(df, "id", "emb", q, k=10).collect()}
    recalls = []
    for n_probe in (1, 2, 4, 8):
        got = {
            r["id"]
            for r in ivf_topk_trained(
                df, "id", "emb", cents, q, k=10, n_probe=n_probe
            ).collect()
        }
        recalls.append(len(got & exact) / 10.0)
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0
    # well-separated blobs: the trained quantizer recovers the blob
    # structure, so probing the single best bucket already finds the
    # blob the query lives in
    assert recalls[0] >= 0.9, recalls


def test_ivf_trained_bucket_col_pushdown(spark, blob_embeddings):
    """Pre-assigned bucket column path: same results, and the bucket
    filter appears as a pushed-down predicate over the column."""
    from lucene_spark.ops.similarity import (
        assign_ivf_buckets,
        ivf_topk_trained,
        train_ivf_centroids,
    )

    df, centers = blob_embeddings
    cents = train_ivf_centroids(df, "id", "emb", k=8, n_iter=3)
    q = [float(x) for x in centers[5]]
    bucketed = assign_ivf_buckets(df, "emb", cents)
    a = ivf_topk_trained(df, "id", "emb", cents, q, k=5, n_probe=2).collect()
    b = ivf_topk_trained(
        bucketed, "id", "emb", cents, q, k=5, n_probe=2, bucket_col="ivf_bucket"
    ).collect()
    assert [(r["id"], round(r["cos"], 9)) for r in a] == [
        (r["id"], round(r["cos"], 9)) for r in b
    ]


def test_ivf_train_empty_and_zero_vectors(spark):
    from lucene_spark.ops.similarity import train_ivf_centroids

    empty = spark.createDataFrame([], "id long, emb array<double>")
    assert train_ivf_centroids(empty, "id", "emb", k=4) == []
    zeros = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.9, 0.1])],
        "id long, emb array<double>",
    )
    cents = train_ivf_centroids(zeros, "id", "emb", k=2, n_iter=2)
    # zero vectors are dropped (no direction); the rest still trains
    assert 1 <= len(cents) <= 2


# ---------------------------------------------- pluggable similarity


class _LinearSimilarity(Similarity):
    """Every hook overridden: linear tf, smoothed idf, log lengthNorm,
    constant coord, shifted sloppyFreq — exercises scalar AND expr
    forms."""

    def tf(self, freq):
        return float(freq)

    def tf_expr(self, c):
        return c.cast("double")

    def idf(self, df, num_docs):
        return math.log(1.0 + num_docs / (df + 1.0))

    def length_norm(self, num_tokens):
        import numpy as np

        n = np.asarray(num_tokens, dtype=np.float64)
        out = np.where(n == 0, 1e10, 1.0 / (1.0 + np.log(np.maximum(n, 1.0))))
        if out.ndim == 0:
            return float(out)
        return out

    def coord(self, overlap, max_overlap):
        return 1.0

    def coord_expr(self, overlap, max_overlap):
        from pyspark.sql import functions as F

        return F.lit(1.0)

    def sloppy_freq(self, distance):
        return 1.0 / (distance + 2.0)

    def sloppy_freq_np(self, d):
        return 1.0 / (d + 2.0)


@pytest.fixture()
def linear_similarity():
    set_default(_LinearSimilarity())
    try:
        yield get_default()
    finally:
        set_default(Similarity())


def test_set_default_roundtrip():
    base = get_default()
    custom = _LinearSimilarity()
    set_default(custom)
    try:
        assert get_default() is custom
        assert get_default().sloppy_freq(0) == 0.5
    finally:
        set_default(base)
    assert get_default() is base
    assert get_default().sloppy_freq(0) == 1.0


def test_custom_similarity_model_spark_parity(
    spark, transcripts_df, transcripts_rows, tmp_path, linear_similarity
):
    """Custom similarity honored END-TO-END: index built under the
    custom lengthNorm, queries scored with custom tf/idf/coord/sloppy,
    model and Spark engine agree at 1e-9 (VERDICT r2 Next #7)."""
    from lucene_spark.index import IndexConfig, build_index
    from lucene_spark.model import PyIndex
    from lucene_spark.search.executor import SparkSearcher

    six = build_index(
        spark, transcripts_df, str(tmp_path / "ix"), IndexConfig(seg_size=100)
    )
    model = PyIndex(
        field_policy={
            "text": "text",
            "conv_id": "keyword",
            "role": "keyword",
            "tool": "keyword",
        }
    )
    for conv_id, turn_idx, role, text, tool, _ts in sorted(
        transcripts_rows, key=lambda r: (r[0], r[1])
    ):
        fields = {"text": text, "conv_id": conv_id, "role": role}
        if tool is not None:
            fields["tool"] = tool
        model.add_document(fields)

    searcher = SparkSearcher(six)
    queries = [
        "text:spark",
        "text:spark OR text:index",
        "text:spark AND text:merge",
        "+text:spark -text:merge text:index",
        'text:"spark index"',
        'text:"index term"~2',
    ]
    for qs in queries:
        want = [
            (h.doc_id, h.score)
            for h in model.find(qs, score_mode="classic")
        ]
        got = [
            (r["doc_id"], r["score"])
            for r in searcher.search(qs, k=0, score_mode="classic").collect()
        ]
        from tests.conftest import assert_rank_parity

        assert_rank_parity(got, want, msg=qs, score_abs=1e-9)


def test_default_similarity_unaffected_after_custom(
    spark_index, model_index
):
    """The session-scoped default-built indexes still rank identically
    after a custom similarity was set and restored."""
    from lucene_spark.search.executor import SparkSearcher

    s = SparkSearcher(spark_index)
    want = [
        (h.doc_id, round(h.score, 9))
        for h in model_index.find("text:spark OR text:index", score_mode="classic")
    ]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.search("text:spark OR text:index", k=0, score_mode="classic").collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want]


# ------------------------------------------- connected components


def test_connected_components_shapes(spark):
    """Chain, triangle, and a 2-cycle in one graph: every vertex labels
    with its component's min id; convergence beats the raise guard."""
    from lucene_spark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_path(spark):
    """A 12-vertex path needs ~diameter rounds — must still converge
    and label everything with the global min."""
    from lucene_spark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11, 0, -1)], "id_a long, id_b long"
    )
    got = connected_components(pairs).collect()
    assert {r["cluster_id"] for r in got} == {1}
    assert len(got) == 12


def test_dedup_keep_canonical(spark):
    from lucene_spark.ops.dedup import dedup_keep_canonical

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 7, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = sorted(r["doc_id"] for r in dedup_keep_canonical(docs, pairs).collect())
    # cluster {1,2,3} keeps 1; singletons 7 and 9 survive
    assert kept == [1, 7, 9]


def test_connected_components_raises_without_convergence(spark):
    from lucene_spark.ops.dedup import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(6)], "id_a long, id_b long")
    with pytest.raises(RuntimeError):
        connected_components(pairs, max_iter=1)
