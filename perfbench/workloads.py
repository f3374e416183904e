"""The benchmark's workloads.

Each workload makes its inputs from the seed, writes them as Parquet
tables, and runs one pipeline iteration per ``run`` call: from reading
those tables to closing the last sink file. ``verify`` then checks the
iteration's outputs against references computed here from the generated
inputs, and returns a digest that must not change between iterations.

Every iteration rebuilds its plans from the input files and writes to a
fresh output directory, so no persist, shuffle or checkpoint of an earlier
iteration is reused.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Tracer, dir_bytes, refine_uses_arrow


class CheckError(Exception):
    """An iteration produced a wrong output."""


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckError(msg)


def _read_table(path: str):
    return pq.read_table(path).to_pandas()


class Workload:
    name = ""

    def __init__(self, seed: int, tiny: bool):
        self.seed = seed
        self.tiny = tiny
        self.n_units = 0
        self._shared: list = []

    def shared(self, tr: Tracer, df):
        """A table several operators of one iteration consume: computed
        once, then read from the cache until ``cleanup``."""
        if tr.enabled:
            return tr.keep(df)
        df = df.persist()
        self._shared.append(df)
        return df

    def generate(self, spark, inp: str) -> dict:
        raise NotImplementedError

    def run(self, spark, tr: Tracer, i: int, out: str) -> None:
        raise NotImplementedError

    def verify(self, out: str, i: int) -> str:
        raise NotImplementedError

    def cleanup(self) -> None:
        """Release what an iteration left cached, after it was timed."""
        for df in self._shared:
            df.unpersist()
        self._shared.clear()

    def counters(self, spark, tr: Tracer) -> None:
        """Trace-only layer counters, computed once from the spans' held
        outputs after a traced iteration, outside every span."""


# ---------------------------------------------------------------------------
# forward_survey
# ---------------------------------------------------------------------------

def _write_scene_inputs(spark, scene, inp: str, seed: int) -> None:
    """The interleaved docs table plus the mesh topology the docs do not
    carry (vertex ids per face, vertex coordinates)."""
    from geograypher_spark.sources import docs as D

    docs, payloads = D.docs_from_scene(spark, scene, seed=seed)
    docs.write.parquet(os.path.join(inp, "docs"))
    payloads.write.parquet(os.path.join(inp, "payloads"))
    f = scene.faces
    pq.write_table(pa.table({"face_id": f["face_id"], "v0": f["v0"],
                             "v1": f["v1"], "v2": f["v2"]}),
                   os.path.join(inp, "topology.parquet"))
    pq.write_table(pa.table(scene.verts), os.path.join(inp, "verts.parquet"))


def _read_scene(wl: Workload, spark, tr: Tracer, inp: str):
    """docs layer: the docs table → typed faces (with topology), cameras,
    polygons, verts. The spans feed three parsers and the parsed tables
    feed several operators, so each is computed once per iteration."""
    from geograypher_spark.sources import docs as D

    with tr.span("docs"):
        docs = spark.read.parquet(os.path.join(inp, "docs"))
        payloads = spark.read.parquet(os.path.join(inp, "payloads"))
        spans = wl.shared(tr, D.explode_spans(docs))
        topo = spark.read.parquet(os.path.join(inp, "topology.parquet"))
        faces = wl.shared(tr, D.parse_faces(spans, payloads).join(topo, "face_id"))
        cams = wl.shared(tr, D.parse_cameras(spans, payloads))
        polys = wl.shared(tr, D.parse_polygons(spans, payloads))
        verts = spark.read.parquet(os.path.join(inp, "verts.parquet"))
    tr.held["spans"] = spans
    return faces, cams, polys, verts


def _visibility_counters(tr: Tracer, cams, faces, vis) -> None:
    from pyspark.sql import functions as F
    from geograypher_spark.operators import visibility as V

    cand = V.candidate_camera_faces(cams, faces)
    n_cand = cand.count()
    n_distinct = cand.select("camera_id", "face_id").distinct().count()
    tr.counters["visibility.candidate_pairs"] = n_cand
    tr.counters["visibility.dup_ratio"] = n_distinct / max(n_cand, 1)
    row = vis.agg(F.count(F.lit(1)).alias("n"),
                  F.sum("pixel_count").alias("px")).collect()[0]
    tr.counters["visibility.visible_ratio"] = row["n"] / max(n_distinct, 1)
    tr.counters["visibility.pixels"] = row["px"]


class ForwardSurvey(Workload):
    """Forward direction: images → mesh faces → per-class map and rasters."""

    name = "forward_survey"
    # make_scene arguments, by ``tiny``. On a 4-core host an iteration's
    # time is mostly per-job overhead, and the map polygons' edge count sets
    # the cost of the JVM refine's plan; three objects (one of each class)
    # keep a steady iteration at 5-10 s, so a run holds several.
    SIZES = {True: dict(camera_grid=2, ground_grid=8, image_size=64, focal=40.0,
                        n_boxes=1, n_cylinders=1, n_cones=1),
             False: dict(camera_grid=2, ground_grid=16, image_size=128, focal=80.0,
                         n_boxes=1, n_cylinders=1, n_cones=1)}

    def generate(self, spark, inp):
        from geograypher_spark.operators.tiles import TileGrid, tile_keys_for_bounds
        from geograypher_spark.sources.scene import make_scene

        kw = self.SIZES[self.tiny]
        scene = make_scene(seed=self.seed, **kw)
        _write_scene_inputs(spark, scene, inp, self.seed)
        self.truth = dict(zip(scene.faces["face_id"].tolist(),
                              scene.faces["class_id"].tolist()))
        self.polygon_class = {p["polygon_id"]: p["class_id"] for p in scene.polygons}
        self.inp = inp
        size = scene.params["size"]
        self.bounds = (0.0, 0.0, size, size)
        self.grid = TileGrid(x0=0.0, y0=size, gsd=size / 200, tile_px=50)
        self.n_tiles = len(tile_keys_for_bounds(self.grid, self.bounds))
        self.n_units = len(scene.faces["face_id"])
        return {"faces": self.n_units, "cameras": len(scene.cameras),
                "image_px": kw["image_size"] ** 2}

    def run(self, spark, tr, i, out):
        from pyspark.sql import functions as F
        from geograypher_spark.operators.aggregates import mode_vote
        from geograypher_spark.operators.spatial_join import points_in_polygons
        from geograypher_spark.operators.tiles import rasterize_face_labels
        from geograypher_spark.operators.union import face_class_union
        from geograypher_spark.operators.visibility import visibility_join
        from geograypher_spark.plans.pipelines import aggregate_images
        from geograypher_spark.sources.sinks import (write_raster_tiles,
                                                      write_vector_geojson)

        faces, cams, polys, verts = _read_scene(self, spark, tr, self.inp)
        with tr.span("visibility"):
            vis = tr.keep(visibility_join(cams, faces))
        with tr.span("aggregates"):
            # LookUp segmentor: each observed face takes its labelled class
            truth = faces.select("face_id", "class_id")
            observed = vis.join(F.broadcast(truth), "face_id")
            pred = tr.keep(aggregate_images(
                observed.select("camera_id", "face_id", "class_id", "pixel_count")))
        with tr.span("sinks"):
            pred.write.parquet(os.path.join(out, "pred"))
            tr.rows(tr.last_count)
            pred = spark.read.parquet(os.path.join(out, "pred"))
        labeled = faces.drop("class_id").join(
            pred.select("face_id", F.col("pred_class").alias("class_id")),
            "face_id", "left")
        with tr.span("union"):
            unions = tr.keep(face_class_union(labeled, verts))
        with tr.span("sinks"):
            tr.rows(write_vector_geojson(unions, os.path.join(out, "classes.geojson")))
        with tr.span("tiles"):
            tiles = tr.keep(rasterize_face_labels(
                labeled, self.grid, emit_images=True, bounds=self.bounds))
        with tr.span("sinks"):
            write_raster_tiles(tiles, os.path.join(out, "tiles"), self.grid,
                               fmt="gtiff")
            tr.rows(tr.last_count)
        # each map polygon takes the majority class of the predicted faces
        # whose centroids fall inside it
        points = faces.select("face_id", F.col("cx").alias("x"),
                              F.col("cy").alias("y")).join(pred, "face_id")
        polys = polys.select("polygon_id", "geometry_wkb")
        with tr.span("spatial_join"):
            hits = tr.keep(points_in_polygons(points, polys))
        with tr.span("aggregates"):
            votes = tr.keep(mode_vote(hits, ["polygon_id"], "pred_class",
                                      out="polygon_class"))
        with tr.span("sinks"):
            votes.write.parquet(os.path.join(out, "polygons"))
            tr.rows(tr.last_count)
        tr.held.update(cams=cams, faces=faces, vis=vis, points=points,
                       polys=polys, hits=hits)

    def verify(self, out, i):
        pred = _read_table(os.path.join(out, "pred")).sort_values("face_id")
        _check(len(pred) > 0, "no face was predicted")
        wrong = [int(f) for f, c in zip(pred["face_id"], pred["pred_class"])
                 if self.truth[int(f)] != c]
        _check(not wrong, f"{len(wrong)} faces predicted a wrong class")
        with open(os.path.join(out, "classes.geojson")) as fh:
            feats = json.load(fh)["features"]
        classes = sorted(f["properties"]["class_id"] for f in feats)
        _check(classes == sorted(set(pred["pred_class"].astype(float))),
               f"GeoJSON classes {classes} != predicted classes")
        h = hashlib.sha256()
        h.update(pred[["face_id", "pred_class"]].to_numpy().tobytes())
        for f in sorted(feats, key=lambda f: f["properties"]["class_id"]):
            h.update(f"{f['properties']['class_id']}:{f['properties']['area']:.9f}".encode())
        votes = _read_table(os.path.join(out, "polygons")).sort_values("polygon_id")
        got = dict(zip(votes["polygon_id"].tolist(), votes["polygon_class"].tolist()))
        _check(got == self.polygon_class,
               f"polygon classes {got} != map classes {self.polygon_class}")
        h.update(votes[["polygon_id", "polygon_class", "votes"]].to_numpy().tobytes())
        tile_dir = os.path.join(out, "tiles")
        names = sorted(os.listdir(tile_dir))
        _check(len(names) == self.n_tiles,
               f"{len(names)} tile files, expected {self.n_tiles}")
        for n in names:
            with open(os.path.join(tile_dir, n), "rb") as fh:
                h.update(n.encode() + fh.read())
        return h.hexdigest()

    def counters(self, spark, tr):
        h = tr.held
        _visibility_counters(tr, h["cams"], h["faces"], h["vis"])
        _sj_point_counters(tr, h["points"], h["polys"], h["hits"])
        tr.counters["docs.spans"] = h["spans"].count()


def _sj_point_counters(tr: Tracer, points, polys, kept) -> None:
    """Candidate rows of a broadcast points_in_polygons: the cell
    equi-join ahead of the exact refine."""
    from pyspark.sql import functions as F
    from geograypher_spark.operators import spatial_join as SJ

    cover, levels = SJ.polygon_covering_cells_driver(polys)
    cand = SJ.with_cell_multires(points, "x", "y", levels).join(
        F.broadcast(cover.drop("geometry_wkb")), "cell").count()
    tr.counters["spatial_join.candidate_rows"] = (
        tr.counters.get("spatial_join.candidate_rows", 0) + cand)
    tr.counters["_sj_kept"] = tr.counters.get("_sj_kept", 0) + kept.count()
    tr.counters["spatial_join.refine_ratio"] = (
        tr.counters["_sj_kept"] / max(tr.counters["spatial_join.candidate_rows"], 1))
    tr.counters["spatial_join.refine_arrow"] = max(
        tr.counters.get("spatial_join.refine_arrow", 0),
        float(refine_uses_arrow(kept)))


# ---------------------------------------------------------------------------
# doc_dedup
# ---------------------------------------------------------------------------

ID_STRIDE = 10_000_000   # replica r of base doc d has id d + r * ID_STRIDE


class DocDedup(Workload):
    """MinHash-LSH near-duplicate detection over an amplified corpus."""

    name = "doc_dedup"
    threshold = 0.5
    # (base docs, words per doc, replicas), by ``tiny``
    SIZES = {True: (300, 30, 2), False: (1000, 40, 2)}

    def generate(self, spark, inp):
        rng = np.random.default_rng(self.seed)
        n_docs, n_words, self.replicas = self.SIZES[self.tiny]
        vocab = np.array([f"w{j}" for j in range(20_000)])
        words = [list(vocab[rng.integers(0, len(vocab), n_words)])
                 for _ in range(n_docs)]
        # every 5th doc is a near-copy of an earlier one with 1-8 words
        # replaced, so true Jaccards spread across the threshold
        for d in range(5, n_docs, 5):
            src = list(words[int(rng.integers(0, d))])
            for pos in rng.choice(n_words, int(rng.integers(1, 9)), replace=False):
                src[pos] = vocab[rng.integers(0, len(vocab))]
            words[d] = src
        texts = [" ".join(w) for w in words]
        pq.write_table(pa.table({"doc_id": np.arange(n_docs, dtype=np.int64),
                                 "text": texts}),
                       os.path.join(inp, "docs.parquet"))
        self.shingles = [{tuple(w[k:k + 3]) for k in range(len(w) - 2)}
                         for w in words]
        self.inp = inp
        self.n_units = n_docs * self.replicas
        return {"base_docs": n_docs, "replicas": self.replicas,
                "docs": self.n_units, "words_per_doc": n_words}

    def run(self, spark, tr, i, out):
        from pyspark.sql import functions as F
        from geograypher_spark.operators.dedup import minhash_dedup
        from geograypher_spark.plans.checkpoints import CheckpointManager

        with tr.span("docs"):
            base = spark.read.parquet(os.path.join(self.inp, "docs.parquet"))
            reps = spark.range(self.replicas).select(F.col("id").alias("_rep"))
            # replica r salts every word with (seed, r), so replicas share
            # no shingle; iteration i offsets the ids, so no two iterations
            # build the same plan and dedup's persist cache never serves a
            # later iteration warm
            salt = F.concat(F.lit(f"_{self.seed}_"), F.col("_rep").cast("string"))
            docs = tr.keep(base.crossJoin(reps).select(
                (F.col("doc_id") + F.col("_rep") * ID_STRIDE
                 + F.lit(i * self.replicas * ID_STRIDE)).alias("doc_id"),
                F.array_join(F.transform(F.split("text", " "),
                                         lambda w: F.concat(w, salt)), " ").alias("text")))

        def build():
            with tr.span("dedup"):
                pairs = tr.keep(minhash_dedup(docs, threshold=self.threshold))
            tr.held.update(docs=docs, pairs=pairs)
            return pairs

        # the near-duplicate table is a checkpoint stage; a second manager
        # over the same root resumes it from disk
        root = os.path.join(out, "ckpt")
        params = {"seed": self.seed, "iteration": i, "threshold": self.threshold}
        with tr.span("checkpoints"):
            CheckpointManager(spark, root).run("near_dups", params, [], build)
        if tr.enabled:
            tr.sample("checkpoints.bytes_written", dir_bytes(root)[0])
        with tr.span("checkpoints") as s:
            again = CheckpointManager(spark, root)
            again.run("near_dups", params, [], build)
            _check(again.records[0].skipped, "resume rebuilt the dedup stage")
        if tr.enabled:
            tr.sample("checkpoints.resume_s", s.end - s.start)

    def cleanup(self):
        from geograypher_spark.operators.dedup import unpersist_dedup_caches

        super().cleanup()
        unpersist_dedup_caches()

    def verify(self, out, i):
        stage = os.path.join(out, "ckpt", "near_dups")
        pairs = _read_table(os.path.join(stage, os.listdir(stage)[0], "data"))
        base = i * self.replicas * ID_STRIDE
        rows = []
        for a, b, j in zip(pairs["id_a"], pairs["id_b"], pairs["jaccard"]):
            ra, rb = divmod(int(a) - base, ID_STRIDE), divmod(int(b) - base, ID_STRIDE)
            _check(ra[0] == rb[0], f"pair ({a}, {b}) spans two replicas")
            sa, sb = self.shingles[ra[1]], self.shingles[rb[1]]
            exact = len(sa & sb) / len(sa | sb)
            _check(abs(exact - j) < 1e-12 and exact >= self.threshold,
                   f"pair ({a}, {b}): jaccard {j}, exact {exact}")
            rows.append((ra[0], ra[1], rb[1], round(exact, 12)))
        _check(len(rows) > 0, "no near-duplicate pair found")
        return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()

    def counters(self, spark, tr):
        from geograypher_spark.operators import dedup as DD

        docs = tr.held["docs"]
        cand = DD.lsh_candidate_pairs(DD.minhash_signatures(docs)).count()
        tr.counters["dedup.candidate_pairs"] = cand
        tr.counters["dedup.precision"] = tr.held["pairs"].count() / max(cand, 1)
        DD.unpersist_dedup_caches()


WORKLOADS = {w.name: w for w in (ForwardSurvey, DocDedup)}
