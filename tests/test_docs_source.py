"""Interleaved-document source: span-sequence equality round trip (the
driver's per-row invariant) + lossless typed parsing."""

import numpy as np
from pyspark.sql import functions as F

from geograypher_spark.sources import docs as D
from geograypher_spark.sources.scene import make_scene


def test_span_roundtrip_equality(spark, scene):
    docs, payloads = D.docs_from_scene(spark, scene)
    spans = D.explode_spans(docs)
    rebuilt = D.reassemble_docs(spans)
    orig = {r["doc_id"]: r["spans"] for r in docs.collect()}
    back = {r["doc_id"]: r["spans"] for r in rebuilt.collect()}
    assert orig.keys() == back.keys()
    for k in orig:
        o = [(s.kind, s.text, s.media_ref, s.offset) for s in orig[k]]
        b = [(s.kind, s.text, s.media_ref, s.offset) for s in back[k]]
        assert o == b, f"span sequence mismatch for {k}"


def test_parse_cameras_lossless(spark, scene):
    docs, payloads = D.docs_from_scene(spark, scene)
    spans = D.explode_spans(docs)
    cams = D.parse_cameras(spans, payloads).orderBy("camera_id").collect()
    assert len(cams) == len(scene.cameras)
    for row, ref in zip(cams, scene.cameras):
        assert row["camera_id"] == ref["camera_id"]
        np.testing.assert_allclose(row["cam_to_world"], ref["cam_to_world"])
        assert row["f"] == ref["f"]
        assert (row["w"], row["h"]) == (ref["w"], ref["h"])


def test_parse_faces_lossless(spark, scene):
    docs, payloads = D.docs_from_scene(spark, scene)
    spans = D.explode_spans(docs)
    faces = D.parse_faces(spans, payloads)
    n_ref = len(scene.faces["face_id"])
    assert faces.count() == n_ref
    got = {r["face_id"]: r for r in faces.collect()}
    f = scene.faces
    for i in (0, n_ref // 2, n_ref - 1):
        fid = int(f["face_id"][i])
        r = got[fid]
        for k in ("x0", "y0", "z0", "x1", "y1", "z1", "x2", "y2", "z2"):
            assert r[k] == f[k][i]
        ref_cls = f["class_id"][i]
        if np.isnan(ref_cls):
            assert r["class_id"] is None
        else:
            assert r["class_id"] == ref_cls


def test_parse_faces_build_round_trips(spark, scene, monkeypatch):
    """Building parse_faces stays within a py4j round-trip budget: its
    projection goes to the JVM as SQL text. The Column-API build took 807
    round trips on this fixture; the SQL-text build takes 39. The
    centroids keep the column form's float order, (x0 + x1 + x2) / 3.
    Garbage-collection detaches are not counted."""
    import gc

    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    docs, payloads = D.docs_from_scene(spark, scene)
    spans = D.explode_spans(docs)
    detach = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
    calls = []
    send = ClientServerConnection.send_command

    def counting_send(self, command):
        if not command.startswith(detach):
            calls.append(command)
        return send(self, command)

    gc.collect()
    monkeypatch.setattr(ClientServerConnection, "send_command", counting_send)
    faces = D.parse_faces(spans, payloads)
    monkeypatch.undo()
    assert len(calls) <= 100, len(calls)
    assert faces.columns == [
        "face_id", "class_id", "x0", "y0", "z0", "x1", "y1", "z1",
        "x2", "y2", "z2", "cx", "cy", "cz"]
    for r in faces.collect():
        for a in "xyz":
            assert r["c" + a] == (r[a + "0"] + r[a + "1"] + r[a + "2"]) / 3


def test_parse_polygons_lossless(spark, scene):
    docs, payloads = D.docs_from_scene(spark, scene)
    spans = D.explode_spans(docs)
    polys = D.parse_polygons(spans, payloads).orderBy("polygon_id").collect()
    assert len(polys) == len(scene.polygons)
    for row, ref in zip(polys, scene.polygons):
        assert bytes(row["geometry_wkb"]) == ref["wkb"]
        assert row["class_name"] == ref["class_name"]


def test_media_spans_reference_every_payload(spark, scene):
    docs, payloads = D.docs_from_scene(spark, scene)
    spans = D.explode_spans(docs)
    n_media = spans.filter(F.col("kind") == "media").count()
    assert n_media == payloads.count()
    # anti-join: no dangling refs either direction (F9 validation analog)
    dangling = (
        spans.filter(F.col("kind") == "media")
        .join(payloads, "media_ref", "left_anti").count()
    )
    assert dangling == 0
