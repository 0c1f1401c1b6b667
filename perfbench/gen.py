"""Seeded input generators. Everything here runs before the timed
region and before set-up; the same seed gives the same inputs.

* `SensorFeed` — PurpleAir multi-sensor payloads over every registry
  field, with a share of missing fields, planted dark stretches per
  sensor and a simulated clock.
* `write_corpus` — ``documents`` and ``embeddings`` in the testdata
  schema, with planted exact and near-duplicate clusters.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())

MODELS = ["PA-II", "PA-II-SD", "PA-I", "PA-II-FLEX"]
HARDWARE = ["2.0+BME280+PMSX003-B+PMSX003-A", "2.0+OPENLOG+PMSX003-A", "3.0+BME688"]
FIRMWARE = ["7.02", "6.06b", "7.04"]


class SensorFeed:
    """Multi-sensor payloads, one per delivery index ``i``, stamped
    ``start + i * step_s``. A sensor inside one of its planted dark
    stretches is absent from the payload; every present sensor row
    carries every registry field, with ``missing_share`` of the values
    left out (null on the wire, sentinel at rest)."""

    def __init__(
        self,
        seed: int,
        *,
        n_sensors: int,
        step_s: int,
        start_epoch: int,
        missing_share: float,
        dark_share: float,
        horizon: int,
    ):
        from purpleair_data_logger_spark import schema as S

        self.fields = list(S.FIELDS)
        self.seed = seed
        self.step_s = step_s
        self.start_epoch = start_epoch
        self.missing_share = missing_share
        rng = random.Random(seed)
        self.sensors = sorted(rng.sample(range(1000, 1_000_000), n_sensors))
        self.static = {
            s: {
                "name": f"PA sensor {s}",
                "model": rng.choice(MODELS),
                "hardware": rng.choice(HARDWARE),
                "firmware_version": rng.choice(FIRMWARE),
                "latitude": round(rng.uniform(32.0, 48.0), 5),
                "longitude": round(rng.uniform(-124.0, -70.0), 5),
            }
            for s in self.sensors
        }
        # dark stretches: [first, last] delivery indexes, inside
        # [1, horizon - 2] so every stretch closes within the horizon
        self.dark: dict[int, tuple[int, int]] = {}
        for s in rng.sample(self.sensors, int(round(dark_share * n_sensors))):
            first = rng.randint(1, horizon - 3)
            self.dark[s] = (first, min(horizon - 2, first + rng.randint(0, 1)))

    def stamp(self, i: int) -> int:
        return self.start_epoch + i * self.step_s

    def present(self, i: int) -> list[int]:
        return [
            s for s in self.sensors
            if not (s in self.dark and self.dark[s][0] <= i <= self.dark[s][1])
        ]

    def payload(self, i: int) -> dict:
        rng = random.Random(self.seed * 1_000_003 + i)
        stamp = self.stamp(i)
        rows = []
        for s in self.present(i):
            st = self.static[s]
            row = [s]
            for f in self.fields:
                if rng.random() < self.missing_share:
                    row.append(None)
                elif f.api_name in st:
                    row.append(st[f.api_name])
                elif f.type_tag == "int":
                    row.append(rng.randint(0, 1000))
                elif f.type_tag == "double":
                    row.append(round(rng.uniform(0.0, 500.0), 2))
                elif f.type_tag == "epoch_ts":
                    row.append(stamp - rng.randint(0, 600))
                else:
                    row.append(f"{f.api_name}-{s}-{rng.randint(0, 9)}")
            rows.append(row)
        return {
            "api_version": "V1.0.11-0.0.42",
            "time_stamp": stamp,
            "data_time_stamp": stamp,
            "fields": ["sensor_index"] + [f.api_name for f in self.fields],
            "data": rows,
        }

    def write_payload(self, i: int, path: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self.payload(i), fh)
        os.replace(tmp, path)


WORDS = (
    "spark stream batch table query join group sort hash scan filter window "
    "merge value key row column part line order data vector agg fast slow "
    "big small the a customer index shard cache plan stage task commit"
).split()


def write_corpus(
    seed: int,
    out_dir: str,
    *,
    n_docs: int,
    n_vecs: int,
    exact_clusters: int,
    near_clusters: int,
    vec_clusters: int,
    cluster_size: int,
) -> dict:
    """``documents`` and ``embeddings`` in the testdata schema, ids below
    the catalog's planted-id offset (100000). Returns the planted
    clusters as id lists:

    * ``exact``: copies of one text;
    * ``near``: copies with one word replaced each (3-shingle Jaccard
      about 0.9, above the catalog's 0.8 threshold); the first member
      has ``doc_id % 10 == 0`` and the rest do not, so the incremental
      new-vs-base rows must pair them;
    * ``vec``: the base vector plus tiny noise (cosine >= 0.999).
    """
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    ids = list(range(n_docs))
    news = [i for i in ids if i % 10 == 0 and i % 50 != 0]
    bases = [i for i in ids if i % 10 != 0]
    rng.shuffle(news)
    rng.shuffle(bases)
    texts = {
        i: " ".join(rng.choice(WORDS) for _ in range(rng.randint(30, 90)))
        for i in ids
    }
    planted = {"exact": [], "near": [], "vec": []}
    for _ in range(exact_clusters):
        members = [bases.pop() for _ in range(cluster_size)]
        for m in members[1:]:
            texts[m] = texts[members[0]]
        planted["exact"].append(sorted(members))
    for _ in range(near_clusters):
        members = [news.pop()] + [bases.pop() for _ in range(cluster_size - 1)]
        src = texts[members[0]].split()
        if len(src) < 60:
            src = src + [rng.choice(WORDS) for _ in range(60 - len(src))]
            texts[members[0]] = " ".join(src)
        for m in members[1:]:
            w = list(src)
            w[rng.randrange(len(w))] = "variant"
            texts[m] = " ".join(w)
        planted["near"].append(members)
    langs = ["en", "en", "de", "fr", "es", "zh"]
    documents = pa.table(
        {
            "doc_id": pa.array(ids, type=pa.int64()),
            "text": pa.array([texts[i] for i in ids]),
            "lang": pa.array([rng.choice(langs) for _ in ids]),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(texts[i]) for i in ids], type=pa.int64()),
        }
    )
    vecs = nrng.standard_normal((n_vecs, 64)).astype(np.float32) * 0.2
    free = list(range(50, n_vecs))  # the catalog plants copies of ids < 50
    rng.shuffle(free)
    for _ in range(vec_clusters):
        members = sorted(free.pop() for _ in range(cluster_size))
        for m in members[1:]:
            noise = nrng.standard_normal(64).astype(np.float32) * 0.002
            vecs[m] = vecs[members[0]] + noise
        planted["vec"].append(members)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(nrng.integers(0, 10, n_vecs, dtype=np.int32)),
        }
    )
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    return planted
