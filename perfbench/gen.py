"""Seeded input generators. Everything the engine reads in a benchmark run
comes from here, as a pure function of the seed:

- camera scenes: 640x480 BGR frames, a textured background plus sensor
  noise, with one object per camera that moves or pauses frame to frame;
- MJPEG AVI files built from a few stills of one scene (JPEG encoding is
  pure numpy and slow, so each still is encoded once per seed and cached);
- the relational tables the analyst mix reads (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) at a given scale.
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import os

import numpy as np

ROWS, COLS = 480, 640
OBJ = 56  # object side in pixels; area far above the detector's 300-px gate
NOISE = 3  # sensor noise amplitude, well under the detector's threshold of 20


def _rng(seed: int, *salt: object) -> np.random.Generator:
    digest = hashlib.sha256(repr((seed,) + salt).encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


# --------------------------------------------------------------- scenes


class Scene:
    """One camera's view: a fixed background, a bank of noise fields and an
    object path. Frame ``i`` is a pure function of (seed, cam, i)."""

    def __init__(self, seed: int, cam: int, n_noise: int = 4):
        rng = _rng(seed, "scene", cam)
        yy, xx = np.mgrid[0:ROWS, 0:COLS]
        fx, fy = rng.uniform(15.0, 60.0, 2)
        base = rng.integers(60, 140, 3)
        bg = (
            base[None, None, :]
            + 30.0 * np.sin(xx / fx)[..., None]
            + 20.0 * np.cos(yy / fy)[..., None]
        )
        self.bg = np.clip(bg, NOISE, 255 - NOISE).astype(np.int16)
        self.noise = [
            rng.integers(-NOISE, NOISE + 1, (ROWS, COLS, 3), dtype=np.int16)
            for _ in range(n_noise)
        ]
        # white on a dark background, black on a light one: the object stays
        # far above the detector's threshold wherever it moves
        self.color = 0 if base.mean() >= 100 else 255
        self.x0 = int(rng.integers(0, COLS - OBJ - 200))
        self.y = int(rng.integers(0, ROWS - OBJ))
        # a step of >= 8 px uncovers > 300 px of background: always detected
        self.step = int(rng.integers(8, 16))
        self.pause = float(rng.uniform(0.1, 0.3))
        self._rng = rng
        self._pos: list[int] = []

    def position(self, i: int) -> int:
        """x of the object in frame i; it pauses on some frames (no motion)."""
        while len(self._pos) <= i:
            if not self._pos:
                self._pos.append(self.x0)
                continue
            moves = self._rng.random() >= self.pause
            x = self._pos[-1] + (self.step if moves else 0)
            if x > COLS - OBJ:
                x = 0
            self._pos.append(x)
        return self._pos[i]

    def has_motion(self, i: int) -> bool:
        """Whether frame i differs from frame i-1 (the first frame has no
        predecessor, so no detection)."""
        return i > 0 and self.position(i) != self.position(i - 1)

    def render(self, x: int, i: int) -> np.ndarray:
        """The background with noise field ``i`` and the object at ``x``."""
        f = self.bg + self.noise[i % len(self.noise)]
        f[self.y : self.y + OBJ, x : x + OBJ] = self.color
        return f.astype(np.uint8)

    def frame(self, i: int) -> np.ndarray:
        return self.render(self.position(i), i)


def iso_ts(t: float) -> str:
    """Fixed-width wire timestamp for epoch seconds ``t`` (microseconds)."""
    us = int(round(t * 1_000_000))
    d = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)
    return d.strftime("%Y-%m-%dT%H:%M:%S.%f") + "+00:00"


def frame_line(cam: int, ts: str, pixels: np.ndarray) -> bytes:
    """One wire-format JSON line (the reference's VideoFrameData)."""
    data = base64.b64encode(pixels.tobytes()).decode("ascii")
    return (
        '{"camId": "cam%d", "timestamp": "%s", "rows": %d, "cols": %d, '
        '"type": 16, "data": "%s"}' % (cam, ts, ROWS, COLS, data)
    ).encode("ascii")


def ts_offset(cam: int) -> int:
    """Byte offset of the timestamp inside ``frame_line(cam, ...)``, so a
    staged file can be stamped in place at its scheduled time."""
    return len('{"camId": "cam%d", "timestamp": "' % cam)


# ------------------------------------------------------------ mjpeg

MJPEG_STILLS = 4  # distinct encoded frames per seed


def mjpeg_stills(seed: int, cache_dir: str, k: int = MJPEG_STILLS) -> list[bytes]:
    """JPEG bytes of ``k`` frames of one scene with the object at ``k``
    distinct positions. Encoding is pure numpy (~0.5 s a frame), so the
    bytes are cached per seed under ``cache_dir``."""
    from distributed_video_analytics_flink_spark.sources.jpeg import encode_jpeg

    os.makedirs(cache_dir, exist_ok=True)
    scene = Scene(seed, 0)
    out = []
    for j in range(k):
        path = os.path.join(cache_dir, f"mjpeg-s{seed}-{j}.jpg")
        if not os.path.exists(path):
            x = (scene.x0 + j * 2 * OBJ) % (COLS - OBJ)
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "wb") as fh:
                fh.write(encode_jpeg(scene.render(x, j), quality=85))
            os.replace(tmp, path)
        with open(path, "rb") as fh:
            out.append(fh.read())
    return out


def mjpeg_sequences(seed: int, cams: int, per_cam: int, k: int = MJPEG_STILLS) -> list:
    """Which still each camera shows in each frame: a seeded walk that
    advances to the next still (motion) or holds the current one (none)."""
    rng = _rng(seed, "mjpeg")
    seqs = []
    for cam in range(cams):
        idx = [cam % k]
        for _ in range(per_cam - 1):
            idx.append(idx[-1] if rng.random() < 0.2 else (idx[-1] + 1) % k)
        seqs.append(idx)
    return seqs


def write_mjpeg_files(stills: list[bytes], seqs: list, out_dir: str) -> None:
    """One MJPEG AVI per camera (``cam<k>.avi``) from its still sequence."""
    from distributed_video_analytics_flink_spark.sources.avi import encode_avi

    os.makedirs(out_dir, exist_ok=True)
    dummy = np.zeros((ROWS, COLS, 3), np.uint8)
    for cam, seq in enumerate(seqs):
        data = encode_avi(
            [dummy] * len(seq), codec="mjpeg", pre_encoded=[stills[j] for j in seq]
        )
        with open(os.path.join(out_dir, f"cam{cam}.avi"), "wb") as fh:
            fh.write(data)


# ----------------------------------------------------------- tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "large"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(rng, n, start, end):
    d0 = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - d0).astype(int))
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def documents(seed: int, n: int) -> list[dict]:
    """``n`` documents over a 30-word vocabulary; about 5% are planted
    near-duplicates of an earlier document (same text, sometimes with one
    word appended), which is what the LSH pair search must find."""
    rng = _rng(seed, "documents")
    docs: list[dict] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            src = docs[int(rng.integers(0, i))]["text"]
            text = src + " dup" if rng.random() < 0.5 else src
        else:
            k = int(rng.integers(10, 101))
            text = " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k))
        docs.append(
            {
                "doc_id": i,
                "text": text,
                "lang": LANGS[int(rng.choice(len(LANGS), p=LANG_P))],
                "source": f"src{i % 20}",
                "n_chars": len(text),
            }
        )
    return docs


def write_tables(seed: int, out_dir: str, sf: float = 0.01) -> None:
    """The analyst mix's tables as parquet files under ``out_dir``, shaped
    like the project's test data at scale factor ``sf``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, "tables")
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_users, n_events = max(int(15_000 * sf), 50), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), max(int(50_000 * sf), 200)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    put(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    put(
        "customer",
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
        },
    )
    put(
        "supplier",
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
    )
    put(
        "part",
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{ADJ[a]} {NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": [PTYPES[j] for j in rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        },
    )
    put(
        "orders",
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
        },
    )
    put(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        },
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    put(
        "events",
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": t0 + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_events)],
        },
    )
    docs = documents(seed, n_docs)
    put("documents", {k: [d[k] for d in docs] for k in docs[0]})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.07 / 8, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put(
        "embeddings",
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        },
    )
