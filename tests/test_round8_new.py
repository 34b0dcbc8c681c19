"""Round-8 additions: markup extraction, segment boilerplate, scene cuts,
margin mining, and the persisted dedup signature artifact.

Property tests follow the round-7 bar: every kernel with nontrivial math
is checked against an independent pure-Python reference on random inputs,
not just goldens.
"""

from __future__ import annotations

import math
import re

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ecommerce_data_pipeline_spark.operators.curate import (
    ENTITIES,
    SCRIPT_RE,
    STYLE_RE,
    TAG_RE,
    boilerplate_segment_report,
    markup_extract,
)


# ---------------------------------------------------------------------------
# markup_extract vs a pure-Python reference pipeline
# ---------------------------------------------------------------------------

def _py_markup_extract(raw: str) -> tuple[int, int, int, int, str]:
    """Independent re-implementation of the exact staged pipeline."""
    n_script = len(re.findall(SCRIPT_RE, raw))
    t1 = re.sub(SCRIPT_RE, "", raw)
    n_style = len(re.findall(STYLE_RE, t1))
    t2 = re.sub(STYLE_RE, "", t1)
    n_tags = len(re.findall(TAG_RE, t2))
    t3 = re.sub(TAG_RE, " ", t2)
    n_entities = sum(t3.count(e) for e, _ in ENTITIES)
    t4 = t3
    for ent, repl in ENTITIES:
        t4 = t4.replace(ent, repl)
    clean = re.sub("[ ]+", " ", t4).strip(" ")
    return n_script, n_style, n_tags, n_entities, clean


_markup_tokens = st.lists(
    st.sampled_from(
        [
            "plain",
            "words here",
            "<b>",
            "</b>",
            "<a href='/x'>",
            "&amp;",
            "&lt;",
            "&#39;",
            "&nbsp;",
            "<script>var x=1;</script>",
            "<script type='t'>f('<i>');</script>",
            "<style>p{color:#222}</style>",
            "",
            "  ",
        ]
    ),
    min_size=0,
    max_size=12,
)


@settings(max_examples=15, deadline=None)
@given(_markup_tokens)
def test_markup_extract_matches_python_reference(spark, tokens):
    raw = " ".join(tokens)
    df = spark.createDataFrame([(1, raw)], "doc_id int, text string")
    row = markup_extract(df).first()
    ns, nst, nt, ne, clean = _py_markup_extract(raw)
    assert (
        row["n_script"],
        row["n_style"],
        row["n_tags"],
        row["n_entities"],
        row["text"],
    ) == (ns, nst, nt, ne, clean)


def test_markup_extract_staged_counts(spark):
    """Counts are PER STAGE: tags inside script blocks are removed with
    the block and never reach the tag count; entities inside tags never
    reach the entity count."""
    raw = "<script>if(a<b){x='<i>&amp;</i>'}</script><p a='&lt;'>hi</p> &gt;"
    df = spark.createDataFrame([(1, raw)], "doc_id int, text string")
    row = markup_extract(df).first()
    assert row["n_script"] == 1
    assert row["n_tags"] == 2  # <p a='&lt;'> and </p> only
    assert row["n_entities"] == 1  # the free-standing &gt; only
    assert row["text"] == "hi >"


# ---------------------------------------------------------------------------
# boilerplate_segment_report vs brute force
# ---------------------------------------------------------------------------

_corpora = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2"]),
        st.lists(
            st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=9
        ).map(" ".join),
    ),
    min_size=1,
    max_size=10,
)


@settings(max_examples=15, deadline=None)
@given(_corpora)
def test_boilerplate_report_matches_brute_force(spark, rows):
    seg_words, min_docs = 2, 2
    data = [(i, src, txt) for i, (src, txt) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id int, source string, text string")
    got = {
        r["doc_id"]: (r["n_segments"], r["n_boilerplate"], r["boiler_ratio"])
        for r in boilerplate_segment_report(
            df, seg_words=seg_words, min_docs=min_docs
        ).collect()
    }

    def segs(txt):
        w = [x for x in re.sub("[^a-z ]", "", txt.lower()).split(" ") if x]
        return [
            " ".join(w[i * seg_words : (i + 1) * seg_words])
            for i in range(math.ceil(len(w) / seg_words))
        ]

    freq: dict[tuple, set] = {}
    for i, src, txt in data:
        for sg in set(segs(txt)):
            freq.setdefault((src, sg), set()).add(i)
    for i, src, txt in data:
        ss = segs(txt)
        nb = sum(1 for sg in ss if len(freq[(src, sg)]) >= min_docs)
        ratio = round(nb / len(ss), 4) if ss else 0.0
        assert got[i] == (len(ss), nb, ratio), (i, src, txt)


# ---------------------------------------------------------------------------
# video_scene_cuts on a handcrafted container
# ---------------------------------------------------------------------------

def test_video_scene_cuts_hand_computed(spark):
    from ecommerce_data_pipeline_spark.operators import codecs
    from ecommerce_data_pipeline_spark.operators.multimodal import (
        video_scene_cuts,
    )

    f0 = np.array([[0, 10], [20, 30]], dtype=np.uint8)
    f1 = np.array([[0, 10], [20, 30]], dtype=np.uint8)  # identical -> 0
    f2 = np.array([[200, 10], [20, 130]], dtype=np.uint8)  # diff (200+100)/4
    payload = codecs.pgm_stream_encode([f0, f1, f2])
    df = spark.createDataFrame(
        [(7, bytearray(payload))], "doc_id long, payload binary"
    )
    rows = {
        r["frame_idx"]: (r["mean_abs_diff"], r["is_cut"])
        for r in video_scene_cuts(df, threshold=40.0).collect()
    }
    assert rows[1] == (0.0, False)
    assert rows[2] == (75.0, True)


# ---------------------------------------------------------------------------
# margin_mined_pairs vs brute force
# ---------------------------------------------------------------------------

def test_margin_mined_pairs_matches_brute_force(spark):
    from ecommerce_data_pipeline_spark.operators.similarity import (
        margin_mined_pairs,
    )

    rng = np.random.default_rng(8)
    src = rng.integers(1, 9, size=(3, 4)).astype(float)
    tgt = rng.integers(1, 9, size=(6, 4)).astype(float)
    sdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(src)],
        "vec_id int, embedding array<double>",
    )
    tdf = spark.createDataFrame(
        [(100 + j, v.tolist()) for j, v in enumerate(tgt)],
        "vec_id int, embedding array<double>",
    )
    k = 2
    got = {
        (r["src_id"], r["tgt_id"]): (r["cosine_sim"], r["margin"])
        for r in margin_mined_pairs(sdf, tdf, k=k, threshold=0.0).collect()
    }

    cos = np.round(
        (src @ tgt.T)
        / (
            np.linalg.norm(src, axis=1)[:, None]
            * np.linalg.norm(tgt, axis=1)[None, :]
        ),
        4,
    )
    fwd = {
        i: float(np.mean(sorted(cos[i], reverse=True)[:k]))
        for i in range(len(src))
    }
    bwd = {
        j: float(np.mean(sorted(cos[:, j], reverse=True)[:k]))
        for j in range(len(tgt))
    }
    assert len(got) == len(src)
    for i in range(len(src)):
        # argmax with tie on smallest tgt id
        j = min(range(len(tgt)), key=lambda j: (-cos[i][j], j))
        key = (i, 100 + j)
        assert key in got
        c, m = got[key]
        assert c == round(float(cos[i][j]), 4)
        want_m = cos[i][j] / (0.5 * fwd[i] + 0.5 * bwd[j])
        # operator rounds the margin to 4 dp; half-a-grid tolerance
        assert abs(m - want_m) <= 5.1e-5


# ---------------------------------------------------------------------------
# signature artifact: parquet round-trip == direct incremental_dedup
# ---------------------------------------------------------------------------

def test_signature_artifact_parquet_roundtrip(spark, tmp_path):
    from ecommerce_data_pipeline_spark.operators.dedup import (
        assign_against_artifact,
        incremental_dedup,
        signature_artifact,
    )

    docs = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "a completely different document about spark and parquet files"),
        (3, "the quick brown fox jumps over the lazy cat again and again"),
        (4, "yet another unrelated text with its own words entirely here"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    existing = df.filter("doc_id < 3")
    new = df.filter("doc_id >= 3")

    direct = {
        r["doc_id"]: (r["canonical_id"], r["match_kind"])
        for r in incremental_dedup(existing, new, k=5).collect()
    }

    ex, bk, pr = signature_artifact(existing, k=5)
    ex.write.parquet(str(tmp_path / "exact"))
    bk.write.parquet(str(tmp_path / "buckets"))
    pr.write.parquet(str(tmp_path / "shingles"))
    via_artifact = {
        r["doc_id"]: (r["canonical_id"], r["match_kind"])
        for r in assign_against_artifact(
            new,
            spark.read.parquet(str(tmp_path / "exact")),
            spark.read.parquet(str(tmp_path / "buckets")),
            spark.read.parquet(str(tmp_path / "shingles")),
            k=5,
        ).collect()
    }
    assert direct == via_artifact
    assert via_artifact[3][1] in ("near", "new")
    assert via_artifact[4] == (4, "new")
