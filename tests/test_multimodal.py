"""Multimodal plumbing tests: binary columns + typed metadata through
mapInPandas — schema, batching, one-to-many expansion, null/corrupt
handling. Decode kernels are the documented deterministic stubs."""

from __future__ import annotations

from pyspark.sql import functions as F

from orderly_spark.operators import multimodal as MM


def media_df(spark):
    rows = [
        (1, MM.fake_media_bytes("image", 640, 480, 1, 0, b"x" * 100)),
        (2, MM.fake_media_bytes("video", 320, 240, 10, 0, b"f" * 100)),
        (3, MM.fake_media_bytes("audio", 0, 0, 1, 16000, b"a" * 50)),
        (4, b"not-a-container"),
        (5, None),
    ]
    return spark.createDataFrame(rows, "media_id int, content binary")


def test_decode_media_meta(spark):
    out = MM.decode_media_meta(media_df(spark))
    got = {r.media_id: r.media_meta for r in out.collect()}
    assert got[1].media_type == "image" and got[1].width == 640 and got[1].valid
    assert got[2].n_frames == 10
    assert got[3].sample_rate == 16000
    assert got[4].valid is False and got[4].n_bytes == 15
    assert got[5].valid is False and got[5].n_bytes is None
    # schema append, original columns intact
    assert out.columns == ["media_id", "content", "media_meta"]


def test_media_embedding_deterministic_normalised(spark):
    df = media_df(spark)
    out = df.select("media_id", MM.media_embedding(F.col("content"), 16).alias("e"))
    got = {r.media_id: r.e for r in out.collect()}
    assert len(got[1]) == 16
    assert got[5] is None
    s = sum(v * v for v in got[1])
    assert abs(s - 1.0) < 1e-5  # unit-normalised
    # determinism across recompute + repartition
    again = {
        r.media_id: r.e
        for r in df.repartition(3)
        .select("media_id", MM.media_embedding(F.col("content"), 16).alias("e"))
        .collect()
    }
    assert again[2] == got[2]


def test_sample_frames_one_to_many(spark):
    out = MM.sample_frames(media_df(spark), every_n=3)
    rows = [(r.media_id, r.frame_index) for r in out.collect()]
    # only the 10-frame video expands: frames 0,3,6,9; image/audio have
    # n_frames=1 → frame 0; corrupt/null dropped
    assert sorted(rows) == [(1, 0), (2, 0), (2, 3), (2, 6), (2, 9), (3, 0)]
    assert out.columns == ["media_id", "frame_index", "frame_ref"]
    v = {(r.media_id, r.frame_index): bytes(r.frame_ref) for r in out.collect()}
    assert v[(2, 3)] == b"f" * 10  # byte-range addressing: 100B/10 frames


def test_resize_images_stub(spark):
    out = MM.resize_images(media_df(spark), 320, 240)
    meta = MM.decode_media_meta(out)
    got = {r.media_id: r.media_meta for r in meta.collect()}
    assert (got[1].width, got[1].height) == (320, 240)
    # non-images pass through untouched
    assert (got[2].width, got[2].height) == (320, 240) or got[2].media_type == "video"
    assert got[2].media_type == "video" and got[2].width == 320
    assert got[4].valid is False


def hostile_media_df(spark):
    """r12 hostile-media corpus shapes: headers that are syntactically
    JSON but semantically poison — huge declared dims (int32+),
    wrong-typed fields, boolean dims, non-UTF8 header bytes, declared
    frame counts far past the payload, truncated headers, nested junk."""
    rows = [
        (1, MM.MAGIC + b'{"media_type": "image", "width": 99999999999999}' + b"\0pp"),
        (2, MM.MAGIC + b'{"media_type": "image", "width": "wide"}' + b"\0pp"),
        (3, MM.MAGIC + b'{"media_type": 7, "width": 2}' + b"\0pp"),
        (4, MM.MAGIC + b'{"n_frames": true}' + b"\0pp"),
        (5, MM.MAGIC + b'{"media_type": "\xff\xfe"}'.replace(b'"\xff\xfe"', b'"\xff\xfe"') + b"\0pp"),
        (6, MM.fake_media_bytes("video", 2, 2, 2_000_000_000, 0, b"abc")),
        (7, MM.MAGIC + b'{"width": 3'),            # truncated header, no NUL
        (8, MM.MAGIC + b"[1,2,3]" + b"\0pp"),      # JSON but not an object
        (9, MM.MAGIC + b"{}" + b"\0pp"),           # empty header: valid, all NULL
        (10, MM.MAGIC),                            # bare magic
        (11, MM.fake_media_bytes("video", 1, 1, 5, 0, b"")),  # frames > payload 0
    ]
    return spark.createDataFrame(rows, "media_id int, content binary")


def test_decode_media_meta_hostile_headers(spark):
    """Poisoned-but-parseable headers must come back valid=false rows,
    never Arrow conversion errors or task deaths (r12 hostile-media
    sweep: an int32+ declared width aborted the stage)."""
    got = {r.media_id: r.media_meta for r in MM.decode_media_meta(hostile_media_df(spark)).collect()}
    for bad in (1, 2, 3, 4, 5, 7, 8):
        assert got[bad].valid is False, bad
    assert got[9].valid is True and got[9].width is None  # incomplete ≠ corrupt
    assert got[10].valid is False
    assert got[6].valid is True and got[6].n_frames == 2_000_000_000  # in-range int32


def test_sample_frames_caps_declared_frames_at_payload(spark):
    """Header/payload mismatch: 2e9 declared frames over a 3-byte
    payload must emit at most 3 frames (1 at every_n=3), not spin the
    kernel loop two billion times; zero payload yields zero frames."""
    out = MM.sample_frames(hostile_media_df(spark), every_n=3)
    rows = sorted((r.media_id, r.frame_index) for r in out.collect())
    assert (6, 0) in rows
    assert all(mid != 11 for mid, _ in rows)       # empty payload → no frames
    assert len([r for r in rows if r[0] == 6]) == 1
    # hostile-header blobs are skipped entirely, never expanded
    assert {mid for mid, _ in rows} <= {6, 9}


def test_resize_survives_hostile_headers(spark):
    """resize is best-effort: hostile blobs pass through unchanged
    (and the whole batch survives)."""
    out = MM.resize_images(hostile_media_df(spark), 64, 48)
    assert out.count() == 11


def test_resize_non_image_passthrough(spark):
    df = media_df(spark)
    before = {r.media_id: (bytes(r.content) if r.content is not None else None) for r in df.collect()}
    out = MM.resize_images(df, 10, 10)
    after = {r.media_id: (bytes(r.content) if r.content is not None else None) for r in out.collect()}
    assert after[2] == before[2]  # video unchanged
    assert after[3] == before[3]  # audio unchanged
    assert after[4] == before[4] and after[5] is None
