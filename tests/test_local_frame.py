"""Driver-built frames (``session.local_frame``): the facade's session
buffers plan as JVM local relations — never a Python-RDD leaf — cast to
their schema at conversion, and read back exactly what the same store
serves after save() + open()."""

from __future__ import annotations

import numpy as np

from memvid_spark.api import PUT_SCHEMA, MemvidSpark
from memvid_spark.session import local_frame
from tests.conftest import SF_DIR

HOSTILE = [
    "it's a quote",
    "back\\slash and trailing\\",
    "a\\'b mixed",
    'say "hi"',
    "naïve café 東京 🚀",
    "",
]


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _assert_no_python_leaf(df) -> None:
    # createDataFrame(list) goes through applySchemaToPythonRDD, which
    # plans as a LogicalRDD leaf over a Python RDD
    plan = _optimized(df)
    assert "LogicalRDD" not in plan, plan


def test_buffers_plan_without_python_rdd_leaf(spark):
    seed = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    mv = MemvidSpark(spark, seed=seed)
    a = mv.put("alpha bravo buffered")
    b = mv.put("charlie delta buffered")
    mv.delete(a)
    mv.add_embeddings([(a, [0.1, 0.2, 0.3]), (b, [0.3, 0.2, 0.1])])
    for df in (mv.docs(), mv.frames(), mv.as_of(b), mv.embeddings()):
        _assert_no_python_leaf(df)
    assert "LocalRelation" in _optimized(mv.docs())
    assert "LocalRelation" in _optimized(mv.embeddings())
    assert mv.docs().filter(f"doc_id = {b}").count() == 1


def test_empty_store_frames_are_local_and_typed(spark):
    mv = MemvidSpark(spark)
    for df, ddl in (
        (mv.docs(), PUT_SCHEMA),
        (mv.embeddings(), MemvidSpark.EMB_SCHEMA),
        (mv.media(), MemvidSpark.MEDIA_SCHEMA),
    ):
        _assert_no_python_leaf(df)
        assert df.count() == 0
        assert df.schema.simpleString() == local_frame(
            spark, [], ddl
        ).schema.simpleString()


def test_local_frame_round_trips_hostile_values(spark):
    rows = [
        (i, t, bytes(range(256)) if i % 2 else b"", [t, ""])
        for i, t in enumerate(HOSTILE)
    ]
    df = local_frame(
        spark, rows, "id long, s string, b binary, arr array<string>"
    )
    assert df.rdd.getNumPartitions() == 1
    got = sorted(
        (r.id, r.s, bytes(r.b), list(r.arr)) for r in df.collect()
    )
    assert got == [(i, s, b, a) for i, s, b, a in rows]


def test_hostile_puts_and_media_payloads_read_back_exactly(spark):
    from memvid_spark.sources.image import png_encode

    mv = MemvidSpark(spark)
    ids = [
        mv.put(t, uri=f"mv2://x/{i}'\\", dedup=False)
        for i, t in enumerate(HOSTILE)
    ]
    got = {
        r.doc_id: (r.text, r.source, r.n_chars) for r in mv.docs().collect()
    }
    assert got == {
        i: (t, f"mv2://x/{n}'\\", len(t))
        for n, (i, t) in enumerate(zip(ids, HOSTILE))
    }
    px = np.random.default_rng(2).integers(0, 256, (6, 5, 3), dtype=np.uint8)
    png = bytes(png_encode(px))
    mid = mv.put_bytes(png, uri="mv2://m/a.png")
    media = mv.media().collect()
    assert [(r.media_id, r.mime, bytes(r.payload)) for r in media] == [
        (mid, "image/png", png)
    ]


def test_float32_embeddings_round_trip_bit_exact(spark, tmp_path):
    vals = [0.1, 1 / 3, 1e-40, 2.0 ** -149, 3.4e38, -0.0, 1.0000001]
    want = np.asarray(vals, dtype=np.float32).tobytes()
    mv = MemvidSpark(spark)
    mv.put("one frame")
    mv.add_embeddings([(0, vals)])

    def stored(store) -> bytes:
        (row,) = store.embeddings().collect()
        return np.asarray(row.embedding, dtype=np.float32).tobytes()

    assert stored(mv) == want
    path = str(tmp_path / "store")
    mv.save(path)
    assert stored(MemvidSpark.open(spark, path)) == want


def test_buffered_store_reads_like_its_saved_copy(spark, tmp_path):
    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot"]
    rng = np.random.default_rng(7)
    mv = MemvidSpark(spark)
    ids = [
        mv.put(" ".join(rng.choice(words, 6)) + f" doc{i}")
        for i in range(12)
    ]
    mv.delete(ids[3])
    ids.append(mv.update(ids[4], "alpha alpha bravo rewritten"))
    mv.add_embeddings([(i, rng.standard_normal(8).tolist()) for i in ids])
    qv = rng.standard_normal(8).tolist()

    def reads(store):
        ask_t = store.ask("which alpha has bravo", top_k=3)
        ask_v = store.ask("alpha charlie", top_k=3, query_vec=qv)
        return (
            [tuple(r) for r in store.search("alpha bravo", top_k=5).collect()],
            (ask_t.answer, ask_t.citations),
            (ask_v.answer, ask_v.citations),
            sorted(tuple(r) for r in store.frames().collect()),
            sorted(tuple(r) for r in store.as_of(ids[6]).collect()),
            [tuple(r) for r in store.search_embeddings(qv, k=5).collect()],
        )

    before = reads(mv)
    path = str(tmp_path / "store")
    mv.save(path)
    assert reads(MemvidSpark.open(spark, path)) == before
