"""Property-based checks (hypothesis) for the round-4 text/vector ops.

One Spark job per example is expensive, so examples are small and
capped; the properties target the windowing arithmetic and the
quantizer's contract — the parts most likely to break on shapes the
parquet fixtures never produce (1-token docs, window == doc length,
all-zero vectors, single-element vectors).
"""

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from osm_sidewalkreator_spark.operators.simsearch import quantize_embeddings
from osm_sidewalkreator_spark.operators.textops import chunk_documents
from osm_sidewalkreator_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def _chunks_reference(tokens: list[str], chunk: int, overlap: int):
    stride = chunk - overlap
    n = max(len(tokens), 1)
    # a window is emitted only while it adds tokens beyond the
    # previous window's overlap region (start < n - overlap), with at
    # least one window per doc — matches the operator's final-window
    # containment rule
    last = max(n - overlap - 1, 0) // stride
    out = []
    for idx in range(last + 1):
        piece = tokens[idx * stride:idx * stride + chunk]
        out.append((idx, len(piece), " ".join(piece)))
    return out


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_chunker_matches_python_reference(spark, data):
    chunk = data.draw(st.integers(2, 12), label="chunk")
    overlap = data.draw(st.integers(0, chunk - 1), label="overlap")
    docs = []
    for i in range(data.draw(st.integers(1, 6), label="n_docs")):
        n_tok = data.draw(st.integers(1, 40), label=f"tok{i}")
        docs.append((i, " ".join(f"w{j % 7}" for j in range(n_tok))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["doc_id"], r["chunk_idx"], r["n_chunk_tokens"],
            r["chunk_text"])
           for r in chunk_documents(df, chunk, overlap).collect()}
    want = set()
    for doc_id, text in docs:
        ref = _chunks_reference(text.split(" "), chunk, overlap)
        for idx, ln, body in ref:
            want.add((doc_id, idx, ln, body))
        # coverage strictly extends chunk-over-chunk: no final window
        # fully contained in its predecessor
        ends = [idx * (chunk - overlap) + ln for idx, ln, _ in ref]
        assert all(b > a for a, b in zip(ends, ends[1:]))
        assert ends[-1] == max(len(text.split(" ")), 1)
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vecs=st.lists(
    st.lists(st.floats(-10, 10, allow_nan=False, width=32),
             min_size=1, max_size=8),
    min_size=1, max_size=6))
def test_quantizer_contract(spark, vecs):
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: (r["scale"], r["qvec"])
           for r in quantize_embeddings(df).collect()}
    for i, v in rows:
        scale, q = out[i]
        v32 = [float(np.float32(x)) for x in v]
        amax = max(abs(x) for x in v32)
        assert scale > 0
        if amax == 0:
            assert scale == 1.0 and all(c == 0 for c in q)
            continue
        assert math.isclose(scale, amax / 127.0, rel_tol=1e-12)
        for x, c in zip(v32, q):
            assert -127 <= c <= 127
            assert c == max(-127, min(127, math.floor(x / scale + 0.5)))
            # reconstruction error bound: half a quantization step
            assert abs(x - c * scale) <= scale / 2 + 1e-12


# --- J11 insert-extra-vertices (pure NumPy, cheap examples) ----------

@given(st.data())
@settings(max_examples=60, deadline=None)
def test_insert_extra_vertices_properties(data):
    """Invariants for the QGIS 'insert extra vertices' refinement:

    1. endpoints never change; original vertices all survive in order;
    2. every inserted vertex equals some reference node within tol of
       the ORIGINAL polyline;
    3. no duplication — repeated application never inserts a node
       that is already a vertex (a second pass MAY legitimately insert
       OTHER nodes: an insertion bends the line, which can pull a
       previously out-of-reach node inside the tolerance, exactly as a
       second native:snapgeometries run would).
    """
    from osm_sidewalkreator_spark.plans import refine

    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    nv = data.draw(st.integers(2, 6))
    line = np.cumsum(rng.uniform(-5, 5, size=(nv, 2)), axis=0)
    n_nodes = data.draw(st.integers(0, 8))
    tol = data.draw(st.sampled_from([0.05, 0.3, 1.0]))
    # nodes: a mix of near-line points and far points
    nodes = []
    for _ in range(n_nodes):
        if rng.random() < 0.5 and nv >= 2:
            seg = rng.integers(0, nv - 1)
            t = rng.uniform(0.05, 0.95)
            p = line[seg] * (1 - t) + line[seg + 1] * t
            nodes.append(p + rng.uniform(-tol, tol, 2))
        else:
            nodes.append(rng.uniform(-50, 50, 2))
    nodes = np.array(nodes) if nodes else np.empty((0, 2))

    out = refine.insert_extra_vertices([line.copy()], nodes, tol=tol)[0]

    # 1: original vertices survive as an ordered subsequence
    i = 0
    for v in out:
        if i < len(line) and np.array_equal(v, line[i]):
            i += 1
    assert i == len(line)
    assert np.array_equal(out[0], line[0])
    assert np.array_equal(out[-1], line[-1])

    # 2: inserted vertices are reference nodes within tol of the line
    orig = {tuple(v) for v in line}
    nodeset = {tuple(v) for v in nodes}
    for v in out:
        tv = tuple(v)
        if tv in orig:
            continue
        assert tv in nodeset
        d = min(
            np.hypot(*(np.asarray(tv)
                       - (a + np.clip(np.dot(np.asarray(tv) - a, b - a)
                                      / max(np.dot(b - a, b - a), 1e-300),
                                      0, 1) * (b - a))))
            for a, b in zip(line[:-1], line[1:]))
        assert d <= tol + 1e-9

    # 3: no duplication under repeated application
    again = refine.insert_extra_vertices([out.copy()], nodes, tol=tol)[0]
    keys = [tuple(v) for v in again]
    assert len(keys) == len(set(keys))
    # and every original vertex still survives in order
    i = 0
    for v in again:
        if i < len(out) and np.array_equal(v, out[i]):
            i += 1
    assert i == len(out)
