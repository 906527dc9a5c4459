"""Seeded input generator for the benchmark.

Every input the engine sees is written here, from ``--seed`` alone; the
engine receives only the files. Expected answers are computed from the
same generator state, so every output check is exact.

Worlds:

- ``kinerja``: the reference's kinerja suite world (puskesmas points in
  kecamatan districts), written as a GeoJSON FeatureCollection and as
  GML for each of the two layers. Districts are the cells of a grid of
  10 x 10 boxes; every point sits strictly inside one district, on a
  0.5-offset lattice, so WKT text and spatial predicates are exact.
- ``ingest``: one small document set per op, derived from
  (seed, op index), in GML or GeoJSON.
- ``pipeline``: one ``embeddings.parquet`` per run, with the fixture
  table's schema, for the registry's k-means row (q168).

GML puts the geometry element directly under the feature element, the
form ``sources/xml.py`` documents. A geometry wrapped in a property
element (``<geom><gml:Point>...``) reads as ``struct<geometry:string>``
instead of a WKT column; see README.md, "Known defects".
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

# kinerja world size: below the reference's 40 072 x 400 on purpose. The
# SQL spatial joins (Q-D3, Q-D5) evaluate every point x district pair in
# a Python UDF, so cost grows with the product.
KINERJA_POINTS = 800
KINERJA_GRID = (5, 4)  # districts: 5 x 4 boxes of 10 x 10

# ingest world size: features per op's document set
INGEST_FEATURES = 240
INGEST_MIN_KAP = 30  # the filter every ingest op applies: kapasitas >= 30

# pipeline world size: rows of the run's embeddings table
PIPELINE_VECTORS = 160
PIPELINE_DIM = 64  # the fixture embeddings' dimension (operators.vectors.DIM)
PIPELINE_K = 8  # embedding clusters: q168's k


def _rng(seed: int, *salt: object) -> random.Random:
    return random.Random(repr((seed,) + salt))


# -- GeoJSON / GML writers --------------------------------------------------


def _feature_collection(features: list[dict]) -> str:
    return json.dumps({"type": "FeatureCollection", "features": features}, sort_keys=True)


def _gml_collection(tag: str, members: list[str]) -> str:
    body = "\n".join(f"  <gml:featureMember>\n    <{tag}>{m}</{tag}>\n  </gml:featureMember>" for m in members)
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<gml:FeatureCollection xmlns:gml="http://www.opengis.net/gml">\n'
        f"{body}\n</gml:FeatureCollection>\n"
    )


def _gml_props(props: dict) -> str:
    return "".join(f"<{k}>{v}</{k}>" for k, v in props.items())


def _gml_point(x: float, y: float) -> str:
    return f"<gml:Point><gml:coordinates>{x!r},{y!r}</gml:coordinates></gml:Point>"


def _gml_box(x0: float, y0: float, x1: float, y1: float) -> str:
    ring = f"{x0!r},{y0!r} {x1!r},{y0!r} {x1!r},{y1!r} {x0!r},{y1!r} {x0!r},{y0!r}"
    return (
        "<gml:Polygon><gml:outerBoundaryIs><gml:LinearRing>"
        f"<gml:coordinates>{ring}</gml:coordinates>"
        "</gml:LinearRing></gml:outerBoundaryIs></gml:Polygon>"
    )


def _box_ring(x0: float, y0: float, x1: float, y1: float) -> list[list[float]]:
    return [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]


def _wkt_point(x: float, y: float) -> str:
    return f"POINT ({x!r} {y!r})"


def _wkt_box(x0: float, y0: float, x1: float, y1: float) -> str:
    return "POLYGON ((" + ", ".join(f"{a!r} {b!r}" for a, b in _box_ring(x0, y0, x1, y1)) + "))"


def _write(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


# -- kinerja world ------------------------------------------------------------


@dataclass
class District:
    nama: str
    tipe: int
    populasi: int
    box: tuple[float, float, float, float]


@dataclass
class Point:
    nama: str
    jenis: int
    kapasitas: int
    x: float
    y: float
    district: int


@dataclass
class KinerjaWorld:
    districts: list[District]
    points: list[Point]
    target: tuple[float, float]  # Q-D2's query point, the location of one point

    def pairs(self) -> tuple[list[str], list[str]]:
        """WKT of every point and every district, the Q-D3/Q-D5 pair space."""
        return [_wkt_point(p.x, p.y) for p in self.points], [_wkt_box(*d.box) for d in self.districts]


def kinerja_world(seed: int) -> KinerjaWorld:
    rng = _rng(seed, "kinerja")
    nx, ny = KINERJA_GRID
    districts = []
    for k in range(nx * ny):
        x0, y0 = 10.0 * (k % nx), 10.0 * (k // nx)
        districts.append(District(f"KEC {k:02d}", rng.randrange(4), 1000 * rng.randint(1, 50), (x0, y0, x0 + 10.0, y0 + 10.0)))
    points = []
    for p in range(KINERJA_POINTS):
        d = rng.randrange(len(districts))
        x0, y0 = districts[d].box[:2]
        points.append(
            Point(f"PUS {p:05d}", rng.randrange(3), rng.randint(10, 59), x0 + 0.5 + rng.randrange(9), y0 + 0.5 + rng.randrange(9), d)
        )
    t = points[rng.randrange(len(points))]
    return KinerjaWorld(districts, points, (t.x, t.y))


def write_kinerja(world: KinerjaWorld, out: str) -> dict[str, str]:
    """Write the four documents; returns table name -> path."""
    pts_props = [{"nama": p.nama, "jenis": p.jenis, "kapasitas": p.kapasitas} for p in world.points]
    kec_props = [{"nama": d.nama, "tipe": d.tipe, "populasi": d.populasi} for d in world.districts]
    paths = {
        "puskesmas_json": os.path.join(out, "puskesmas.json"),
        "kecamatan_json": os.path.join(out, "kecamatan.json"),
        "puskesmas_gml": os.path.join(out, "puskesmas_gml", "puskesmas.gml"),
        "kecamatan_gml": os.path.join(out, "kecamatan_gml", "kecamatan.gml"),
    }
    _write(
        paths["puskesmas_json"],
        _feature_collection(
            [
                {"type": "Feature", "properties": pr, "geometry": {"type": "Point", "coordinates": [p.x, p.y]}}
                for p, pr in zip(world.points, pts_props)
            ]
        ),
    )
    _write(
        paths["kecamatan_json"],
        _feature_collection(
            [
                {"type": "Feature", "properties": pr, "geometry": {"type": "Polygon", "coordinates": [_box_ring(*d.box)]}}
                for d, pr in zip(world.districts, kec_props)
            ]
        ),
    )
    _write(paths["puskesmas_gml"], _gml_collection("puskesmas", [_gml_props(pr) + _gml_point(p.x, p.y) for p, pr in zip(world.points, pts_props)]))
    _write(paths["kecamatan_gml"], _gml_collection("kecamatan", [_gml_props(pr) + _gml_box(*d.box) for d, pr in zip(world.districts, kec_props)]))
    # GML tables register by directory (one document per directory)
    paths["puskesmas_gml"] = os.path.dirname(paths["puskesmas_gml"])
    paths["kecamatan_gml"] = os.path.dirname(paths["kecamatan_gml"])
    return paths


# -- ingest world -------------------------------------------------------------


@dataclass
class IngestDoc:
    fmt: str  # "gml" | "geojson"
    features: list[dict]  # nama, kapasitas, x, y

    def expected(self) -> list[dict]:
        """Features the op's filter keeps (kapasitas >= INGEST_MIN_KAP)."""
        return [f for f in self.features if f["kapasitas"] >= INGEST_MIN_KAP]


def ingest_doc(seed: int, op_index: int, fmt: str) -> IngestDoc:
    rng = _rng(seed, "ingest", op_index)
    feats = [
        {"nama": f"F{op_index}-{i:04d}", "kapasitas": rng.randint(0, 59), "x": rng.randrange(400) / 4.0, "y": rng.randrange(400) / 4.0}
        for i in range(INGEST_FEATURES)
    ]
    return IngestDoc(fmt, feats)


def write_ingest(doc: IngestDoc, out: str) -> str:
    """Write one op's document set; returns the path to register."""
    props = [{"nama": f["nama"], "kapasitas": f["kapasitas"]} for f in doc.features]
    if doc.fmt == "gml":
        _write(
            os.path.join(out, "doc.gml"),
            _gml_collection("fitur", [_gml_props(pr) + _gml_point(f["x"], f["y"]) for f, pr in zip(doc.features, props)]),
        )
        return out
    path = os.path.join(out, "doc.json")
    _write(
        path,
        _feature_collection(
            [
                {"type": "Feature", "properties": pr, "geometry": {"type": "Point", "coordinates": [f["x"], f["y"]]}}
                for f, pr in zip(doc.features, props)
            ]
        ),
    )
    return path


# -- pipeline world -----------------------------------------------------------


def write_pipeline(seed: int, out: str) -> str:
    """Write a run's ``embeddings.parquet``; returns the directory, the
    ``sf_dir`` the registry row reads.

    Embeddings lie in PIPELINE_K tight clusters far apart, and vector
    ``c < PIPELINE_K`` belongs to cluster ``c``: q168's Lloyd iteration,
    which seeds its centroids from the first vectors, reaches its fixed
    point in the same round for every seed, so its job count repeats."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, "pipeline")
    os.makedirs(out, exist_ok=True)
    centers = [[rng.uniform(-1.0, 1.0) for _ in range(PIPELINE_DIM)] for _ in range(PIPELINE_K)]
    cluster = [i if i < PIPELINE_K else rng.randrange(PIPELINE_K) for i in range(PIPELINE_VECTORS)]
    vecs = {
        "vec_id": list(range(PIPELINE_VECTORS)),
        "embedding": [[x + rng.gauss(0.0, 0.01) for x in centers[c]] for c in cluster],
        "label": cluster,
    }
    schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())])
    pq.write_table(pa.table(vecs, schema=schema), os.path.join(out, "embeddings.parquet"))
    return out
