"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of (workload sizes, seed): the same
seed writes byte-identical inputs. The program under test only ever sees
the files these functions write.

The forecast workload gets an ADCIRC-shaped classic NetCDF file written with
the repo's own `sources.netcdf3.write_classic`:

* a structured triangulation of an n x n node lattice whose interior
  nodes are jittered (boundary nodes stay on the box, so the node
  bounding box is the box itself);
* elements whose centroid falls inside a few seeded discs are removed,
  so the domain mask does real work, as land does in a real mesh;
* every timestep carries a seeded linear field v = a + b*dx + c*dy,
  which barycentric interpolation reproduces exactly, so each finite
  output pixel has an analytic expected value.

The corpus workload gets a word-soup documents table in the style of
the engine's documents fixture. Its content is fixed; the seed only
permutes the row order, so per-stage row counts must not depend on it.
"""

from __future__ import annotations

import os

import numpy as np

FILL = -99999.0
T0 = "2024-01-01 00:00:00"
LON0, LAT0 = -80.0, 30.0  # south-west corner of the mesh box
N_DISCS = 3


def linear_field(mesh: dict, t: int, lon, lat):
    """Timestep t's field at (lon, lat): a + b*dx + c*dy."""
    a, b, c = mesh["coeffs"][t]
    return a + b * (lon - LON0) + c * (lat - LAT0)


def _lattice_mesh(rng: np.random.Generator, n: int, extent: float):
    """Jittered n x n lattice, two triangles per quad, seeded holes."""
    s = extent / (n - 1)
    ii, jj = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    lon = LON0 + jj.astype("float64") * s
    lat = LAT0 + ii.astype("float64") * s
    interior = (ii > 0) & (ii < n - 1) & (jj > 0) & (jj < n - 1)
    # |jitter| < s/5 per axis keeps every triangle's orientation positive
    lon[interior] += rng.uniform(-0.2, 0.2, interior.sum()) * s
    lat[interior] += rng.uniform(-0.2, 0.2, interior.sum()) * s
    lon, lat = lon.ravel(), lat.ravel()

    q = (np.arange(n - 1)[:, None] * n + np.arange(n - 1)[None, :]).ravel()
    lower = np.stack([q, q + 1, q + n], axis=1)
    upper = np.stack([q + 1, q + n + 1, q + n], axis=1)
    tris = np.concatenate([lower, upper])

    discs = np.column_stack([
        LON0 + rng.uniform(0.2, 0.8, N_DISCS) * extent,
        LAT0 + rng.uniform(0.2, 0.8, N_DISCS) * extent,
        rng.uniform(0.04, 0.08, N_DISCS) * extent,
    ])
    cx = lon[tris].mean(axis=1)
    cy = lat[tris].mean(axis=1)
    wet = np.ones(len(tris), dtype=bool)
    for dx, dy, r in discs:
        wet &= (cx - dx) ** 2 + (cy - dy) ** 2 > r * r
    return s, lon, lat, tris[wet], discs


def write_fort63(path: str, seed: int, n: int, extent: float, n_steps: int,
                 variable: str) -> dict:
    """Write a fort.63-shaped CDF-2 file with hourly steps; return the
    mesh's analytic description (JSON-able) for the output checks."""
    from adcirctime2cogs_spark.sources import netcdf3

    rng = np.random.default_rng(seed)
    s, lon, lat, tris, discs = _lattice_mesh(rng, n, extent)
    mesh = {
        "extent": extent, "spacing": s, "discs": discs.tolist(),
        "coeffs": np.column_stack([
            rng.uniform(-1.0, 1.0, n_steps),
            rng.uniform(-2.0, 2.0, n_steps) / extent,
            rng.uniform(-2.0, 2.0, n_steps) / extent,
        ]).tolist(),
    }
    values = np.stack([linear_field(mesh, t, lon, lat)
                       for t in range(n_steps)])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    netcdf3.write_classic(
        path,
        dims=[("time", None), ("node", len(lon)), ("nele", len(tris)),
              ("nvertex", 3)],
        variables=[
            {"name": "time", "dims": ["time"],
             "data": np.arange(n_steps, dtype="float64") * 3600.0,
             "atts": {"units": f"seconds since {T0}"}},
            {"name": "x", "dims": ["node"], "data": lon},
            {"name": "y", "dims": ["node"], "data": lat},
            {"name": "depth", "dims": ["node"],
             "data": np.full(len(lon), 5.0)},
            {"name": "element", "dims": ["nele", "nvertex"],
             "data": (tris + 1).astype("int32")},  # ADCIRC is 1-based
            {"name": variable, "dims": ["time", "node"], "data": values,
             "atts": {"_FillValue": FILL}},
        ],
        gatts={"model": "ADCIRC"},
        version=2,
    )
    return mesh


# The documents fixture's vocabulary: 30 filler words plus "dup", which
# marks a near-duplicate of an earlier document.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15),
         ("de", 0.14))
CORPUS_CONTENT_SEED = 20241017
N_SOURCES = 4


def corpus_documents(n_docs: int) -> dict[str, list]:
    """The fixed corpus content: word-soup documents of 10-100 words,
    ~5% near-duplicates (an earlier text plus "dup"), a few exact
    duplicates and case variants, and some e-mail / phone-shaped PII."""
    rng = np.random.default_rng(CORPUS_CONTENT_SEED)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words))), "dup")
            text = " ".join(words)
        elif i > 10 and r < 0.055:
            text = texts[int(rng.integers(0, i))].upper()
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 101))))
            if r > 0.97:
                words.insert(int(rng.integers(0, len(words))),
                             f"user{i}@example.org")
            elif r > 0.94:
                words.append(f"{rng.integers(100, 999)}-"
                             f"{rng.integers(1000, 9999)}")
            text = " ".join(words)
        texts.append(text)
    names, probs = zip(*LANGS)
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": list(rng.choice(names, n_docs, p=probs)),
        # few sources, so the per-source cap (8 docs) binds
        "source": [f"src{k}" for k in rng.integers(0, N_SOURCES, n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def write_corpus(path: str, seed: int, n_docs: int) -> int:
    """Write the fixed corpus in a seeded row order; return its bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    order = np.random.default_rng(seed).permutation(n_docs)
    table = pa.table(corpus_documents(n_docs)).take(order)
    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, "documents.parquet")
    pq.write_table(table, out)
    return os.path.getsize(out)
