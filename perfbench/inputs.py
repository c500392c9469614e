"""Seeded input generators for the two benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the
same forecast cubes and the same embeddings. The program under test
receives only these generated inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- forecast cubes (ingest_cycle) ----------------------------------------

COLLECTION = "harmonie_dini_sf"  # harmonie_* takes the LCC -> WGS84 branch
PARAMETERS = (
    "temperature-2m",
    "wind-speed-10m",
    "pressure-sealevel",
    "relative-humidity-2m",
)
N_STEPS = 24  # hourly steps per forecast cycle
N_Y = N_X = 32
CYCLE_HOURS = 6  # each cycle starts 6 h after the previous one
T0 = 1_767_225_600  # 2026-01-01T00:00:00Z
CELLS_PER_CYCLE = len(PARAMETERS) * N_STEPS * N_Y * N_X  # 98,304

# DINI-like 2.5 km Lambert grid near the projection origin, in metres
YS = [float(-250_000 + 2_500 * i) for i in range(N_Y)]
XS = [float(100_000 + 2_500 * i) for i in range(N_X)]


def cycle_times(cycle: int) -> list[int]:
    start = T0 + CYCLE_HOURS * 3600 * cycle
    return [start + 3600 * h for h in range(N_STEPS)]


def cycle_values(seed: int, cycle: int, p_idx: int) -> np.ndarray:
    """(time, y, x) integer-valued float64: a smooth drifting field plus
    seeded integer noise. Integers below 2**24 survive float32 COG
    tiles and float64 sums exactly, so every checksum is exact."""
    rng = np.random.default_rng([seed, cycle, p_idx])
    hours = np.asarray(cycle_times(cycle), dtype=np.float64)[:, None, None] / 3600.0
    yy = np.arange(N_Y, dtype=np.float64)[None, :, None]
    xx = np.arange(N_X, dtype=np.float64)[None, None, :]
    smooth = 2_000.0 * (p_idx + 1) + 500.0 * np.sin(
        xx / 23.0 + hours / 7.0 + p_idx
    ) * np.cos(yy / 31.0 - hours / 11.0)
    noise = rng.integers(-20, 21, size=(N_STEPS, N_Y, N_X))
    return np.rint(smooth) + noise


def cycle_payloads(seed: int, cycle: int) -> tuple[dict[str, bytes], dict[str, np.ndarray]]:
    """Deflated NetCDF-4/HDF5 payload per parameter, plus the arrays
    they encode (the ground truth for the output checks)."""
    from dmi_ingestor_spark.sources.hdf5 import encode_hdf5_cube

    times = cycle_times(cycle)
    payloads, arrays = {}, {}
    for p_idx, parameter in enumerate(PARAMETERS):
        values = cycle_values(seed, cycle, p_idx)
        payloads[parameter] = encode_hdf5_cube(
            parameter, times, YS, XS, values, chunk_t=1, compress=True
        )
        arrays[parameter] = values
    return payloads, arrays


# ---- embeddings (query_vector) --------------------------------------------

N_EMBEDDINGS = 10_240  # two Arrow batches (10,000 + 240) at the default batch size
EMB_DIM = 64


def write_embeddings(out: str, seed: int) -> None:
    """The ``embeddings`` table of ``tools/gen_full_sf`` (64-d
    unit-normalised gaussian, label ~ U{0..9}) at sf0.512, written on its
    own so the vector workload does not pay for the other nine tables."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    v = rng.standard_normal((N_EMBEDDINGS, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
                "embedding": pa.array(list(v), pa.list_(pa.float32())),
                "label": rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32),
            }
        ),
        f"{out}/embeddings.parquet",
    )
