import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VOCAB = None


@pytest.fixture(scope="session")
def spark():
    from lucene_spark.session import get_spark

    s = get_spark(
        app_name="lucene_spark_tests",
        master=os.environ.get("SPARK_TEST_MASTER", "local[4]"),
        shuffle_partitions=8,
    )
    yield s
    s.stop()


def make_transcripts(n_convs=40, seed=42, max_turns=12):
    """Deterministic synthetic transcripts per FIXTURES.md F1 (scaled
    down for unit tests): Zipf vocab, mixed case, numerics, ~1% empty."""
    rng = np.random.default_rng(seed)
    base_vocab = [
        "spark", "index", "term", "query", "search", "merge", "segment",
        "token", "posting", "score", "rank", "shard", "batch", "stream",
        "vector", "filter", "boost", "fuzzy", "phrase", "wildcard",
        "lucene", "engine", "data", "table", "column", "row", "join",
        "group", "sort", "limit", "agent", "tool", "user", "model",
        "Deploy", "ERROR", "Warning", "timeout", "retry", "cache",
    ]
    zipf_w = 1.0 / np.arange(1, len(base_vocab) + 1) ** 1.1
    zipf_w /= zipf_w.sum()
    rows = []
    roles = ["user", "assistant", "system", "tool"]
    tools = [None, None, None, None, "bash", "search", "editor"]
    for c in range(n_convs):
        n_turns = int(rng.integers(1, max_turns + 1))
        for t in range(n_turns):
            if rng.random() < 0.01:
                text = ""
            else:
                n_words = int(rng.integers(3, 40))
                words = list(rng.choice(base_vocab, size=n_words, p=zipf_w))
                if rng.random() < 0.3:
                    words.insert(
                        int(rng.integers(0, len(words))), str(rng.integers(0, 9999))
                    )
                text = " ".join(words)
            rows.append(
                (
                    f"conv{c:08d}",
                    t,
                    roles[t % 4],
                    text,
                    tools[int(rng.integers(0, len(tools)))],
                    f"2026-01-01 00:{t:02d}:00",
                )
            )
    return rows


def assert_rank_parity(got, want, msg="", score_abs=1e-6, tie_rel=1e-9):
    """Rank identity vs the pure-Python model, modulo FLOAT-TIE groups:
    docs whose model scores agree within ``tie_rel`` may permute (the
    engine breaks exact ties by doc_id; the model's queue-order
    accumulation can split such a tie by one ulp — the engine's sloppy
    kernel computes the same value as the reference queue in a
    different float accumulation order). Outside tie
    groups order must match exactly, and every doc's score at
    ``score_abs``. ``got``/``want`` are rank-ordered (doc_id, score)
    lists."""
    assert len(got) == len(want), f"{msg}: {len(got)} != {len(want)}"
    i = 0
    while i < len(want):
        j = i + 1
        while (
            j < len(want)
            and abs(want[j][1] - want[i][1])
            <= tie_rel * max(1.0, abs(want[i][1]))
        ):
            j += 1
        assert sorted(g[0] for g in got[i:j]) == sorted(
            w[0] for w in want[i:j]
        ), f"{msg} ranks {i}:{j}"
        i = j
    wd = dict(want)
    for g_doc, g_score in got:
        assert g_score == pytest.approx(
            wd[g_doc], abs=score_abs
        ), f"{msg} doc {g_doc}"


@pytest.fixture(scope="session")
def transcripts_rows():
    return make_transcripts()


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        transcripts_rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    return df


@pytest.fixture(scope="session")
def model_index(transcripts_rows):
    """PyIndex over the same transcripts with the same doc_id order."""
    from lucene_spark.model import PyIndex

    ix = PyIndex(
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
        ix.add_document(fields)
    return ix


@pytest.fixture(scope="session")
def spark_index(spark, transcripts_df, tmp_path_factory):
    from lucene_spark.index import IndexConfig, build_index

    d = str(tmp_path_factory.mktemp("ix"))
    cfg = IndexConfig(seg_size=100)  # several segments even in tests
    return build_index(spark, transcripts_df, d, cfg)
