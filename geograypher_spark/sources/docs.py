"""Interleaved text+media document source (the mandated input table).

Per ``BASELINE.json:input_hint`` the engine's source of truth is an
Iceberg/Parquet table:

    doc_id: string
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

``kind ∈ {text, media}``. Media spans carry typed refs
(``camera://<id>``, ``faces://<batch>``, ``polygon://<id>``,
``dtm-tile://<tx>/<ty>``, ``detections://<image>``) that resolve through a
sidecar ``media_payloads(media_ref, kind, payload_json)`` table.

Invariant (driver-checked): parsing docs into typed tables is a lossless,
order-preserving explode; a doc-level round trip reconstructs the span
sequence (kind, text, media_ref, order) exactly. Reference analog: file
loaders → typed tables (``cameras/derived_cameras.py:74-149``).

Everything here is JVM-side (posexplode / sort_array / from_json) — no
Python in the parse path.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .scene import SceneTables

SPAN_STRUCT = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])
DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
])

CAMERA_PAYLOAD_SCHEMA = T.StructType([
    T.StructField("camera_id", T.LongType()),
    T.StructField("cam_to_world", T.ArrayType(T.DoubleType())),
    T.StructField("f", T.DoubleType()),
    T.StructField("cx", T.DoubleType()),
    T.StructField("cy", T.DoubleType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
])
FACE_BATCH_PAYLOAD_SCHEMA = T.StructType([
    T.StructField("face_id", T.ArrayType(T.LongType())),
    T.StructField("coords", T.ArrayType(T.ArrayType(T.DoubleType()))),  # 9 per face
    T.StructField("class_id", T.ArrayType(T.DoubleType())),
])
POLYGON_PAYLOAD_SCHEMA = T.StructType([
    T.StructField("polygon_id", T.LongType()),
    T.StructField("wkb_hex", T.StringType()),
    T.StructField("class_id", T.IntegerType()),
    T.StructField("class_name", T.StringType()),
])

_TEXT_SNIPPETS = [
    "flight line recorded over plot",
    "canopy segmentation batch",
    "ground control verified",
    "ortho tile ingested",
    "survey metadata follows",
]


def docs_from_scene(
    spark: SparkSession, scene: SceneTables, faces_per_batch: int = 64, seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Wrap a scene fixture into (documents, media_payloads) DataFrames.

    Deterministic: doc/span layout is a pure function of (scene, seed).
    Each document interleaves text spans with media spans in a repeatable
    pattern, exercising the span-sequence-equality invariant.
    """
    rng = np.random.default_rng(seed)
    payloads: list[tuple[str, str, str]] = []  # media_ref, kind, payload_json
    media_refs: list[str] = []

    for cam in scene.cameras:
        ref = f"camera://{cam['camera_id']}"
        payloads.append((ref, "camera", json.dumps(cam, sort_keys=True)))
        media_refs.append(ref)

    f = scene.faces
    n_faces = len(f["face_id"])
    for b0 in range(0, n_faces, faces_per_batch):
        b1 = min(b0 + faces_per_batch, n_faces)
        ref = f"faces://{b0 // faces_per_batch}"
        batch = {
            "face_id": f["face_id"][b0:b1].tolist(),
            "coords": [
                [float(f[k][i]) for k in ("x0", "y0", "z0", "x1", "y1", "z1", "x2", "y2", "z2")]
                for i in range(b0, b1)
            ],
            "class_id": [None if np.isnan(v) else float(v) for v in f["class_id"][b0:b1]],
        }
        payloads.append((ref, "faces", json.dumps(batch, sort_keys=True)))
        media_refs.append(ref)

    for p in scene.polygons:
        ref = f"polygon://{p['polygon_id']}"
        payloads.append((ref, "polygon", json.dumps({
            "polygon_id": p["polygon_id"], "wkb_hex": p["wkb"].hex(),
            "class_id": p["class_id"], "class_name": p["class_name"],
        }, sort_keys=True)))
        media_refs.append(ref)

    # deterministic interleave: pack media refs into docs of 3-6 spans with
    # text spans between them
    docs: list[tuple[str, list[tuple[str, str, str, int]]]] = []
    i = 0
    doc_idx = 0
    while i < len(media_refs):
        n_media = int(rng.integers(1, 4))
        spans: list[tuple[str, str, str, int]] = []
        off = 0
        for _ in range(n_media):
            if i >= len(media_refs):
                break
            snippet = _TEXT_SNIPPETS[int(rng.integers(0, len(_TEXT_SNIPPETS)))]
            spans.append(("text", f"{snippet} #{doc_idx}/{off}", "", off)); off += 1
            spans.append(("media", "", media_refs[i], off)); off += 1
            i += 1
        docs.append((f"doc-{doc_idx:08d}", spans))
        doc_idx += 1

    docs_df = spark.createDataFrame(
        [(d, [tuple(s) for s in spans]) for d, spans in docs], schema=DOC_SCHEMA,
    )
    payloads_df = spark.createDataFrame(
        payloads, schema="media_ref string, kind string, payload_json string",
    )
    return docs_df, payloads_df


# ---------------------------------------------------------------------------
# Parse / round-trip (all JVM-side)
# ---------------------------------------------------------------------------

def explode_spans(docs: DataFrame) -> DataFrame:
    """Lossless, order-preserving flatten: one row per span with its array
    position (posexplode). ``pos`` is the structural order; ``offset`` the
    declared order — the round-trip invariant requires reassembly by offset."""
    return docs.select(
        "doc_id", F.posexplode("spans").alias("pos", "span"),
    ).select(
        "doc_id", "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def reassemble_docs(spans: DataFrame) -> DataFrame:
    """Inverse of explode_spans: rebuild (doc_id, spans) with spans ordered
    by offset. sort_array on struct(offset, ...) keys the sort on offset
    first — array order is deterministic and shuffle-independent."""
    return spans.groupBy("doc_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("offset", "kind", "text", "media_ref"))),
            lambda s: F.struct(
                s["kind"].alias("kind"), s["text"].alias("text"),
                s["media_ref"].alias("media_ref"), s["offset"].alias("offset"),
            ),
        ).alias("spans"),
    )


def parse_cameras(spans: DataFrame, payloads: DataFrame) -> DataFrame:
    """Media spans with camera refs → typed cameras table (S2 analog)."""
    cam = (
        spans.filter(F.col("media_ref").startswith("camera://"))
        .join(F.broadcast(payloads.filter(F.col("kind") == "camera")), "media_ref")
        .select(F.from_json("payload_json", CAMERA_PAYLOAD_SCHEMA).alias("c"))
        .select("c.*")
    )
    return cam


def parse_faces(spans: DataFrame, payloads: DataFrame) -> DataFrame:
    """Media spans with face-batch refs → exploded faces table (S1 analog).
    arrays_zip + explode keeps it JVM-side; one output row per face.
    Written as SQL text, so building it costs a few dozen py4j round
    trips, not one per Column operator."""
    coords = [f"r.coords[{3 * v + k}] AS {a}{v}"
              for v in range(3) for k, a in enumerate("xyz")]
    # the centroid adds the same three doubles in the same order as
    # (x0 + x1 + x2) / 3 over the named columns would
    centroid = [f"(r.coords[{k}] + r.coords[{3 + k}] + r.coords[{6 + k}]) / 3 "
                f"AS c{a}" for k, a in enumerate("xyz")]
    return (
        spans.filter("startswith(media_ref, 'faces://')")
        .join(payloads.filter("kind = 'faces'"), "media_ref")
        .selectExpr(f"from_json(payload_json, "
                    f"'{FACE_BATCH_PAYLOAD_SCHEMA.simpleString()}') AS b")
        .selectExpr("explode(arrays_zip(b.face_id, b.coords, b.class_id)) AS r")
        .selectExpr("r.face_id AS face_id", "r.class_id AS class_id",
                    *coords, *centroid)
    )


def parse_polygons(spans: DataFrame, payloads: DataFrame) -> DataFrame:
    return (
        spans.filter(F.col("media_ref").startswith("polygon://"))
        .join(F.broadcast(payloads.filter(F.col("kind") == "polygon")), "media_ref")
        .select(F.from_json("payload_json", POLYGON_PAYLOAD_SCHEMA).alias("p"))
        .select(
            "p.polygon_id",
            F.unhex("p.wkb_hex").alias("geometry_wkb"),
            "p.class_id", "p.class_name",
        )
    )
