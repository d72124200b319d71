"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and sizes: the same seed
gives byte-identical inputs. The program under test only ever sees the
files written here, in the schemas `banking_streaming_etl_spark.datamodel`
reads (`events`, `customer`, `nation`, `region`, `documents`,
`embeddings`) or in the JSON-lines wire format that
`sources.stream.read_transaction_stream` parses.

Run as a script, this module is the paced publisher: a single-threaded
process that moves pre-rendered JSON-lines files into the watched source
directory on a fixed schedule and logs how late each publish ran (see
`publish_paced`).
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: event-time origin of generated transactions (2024-01-01T00:00:00Z).
EPOCH_US = 1_704_067_200_000_000
MODALITIES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
N_NATIONS = 25
N_REGIONS = 5
#: the streaming pipeline's event-time watermark delay, in microseconds.
WATERMARK_US = 10 * 60 * 1_000_000

#: transaction amounts are exponential with this mean, as the reference's
#: producer draws them (FIXTURES.md, `valor_transacao`).
AMOUNT_MEAN = 1000.0
#: payer skew: P(payer of rank r) is proportional to 1 / r**ZIPF_S. The
#: reference's producer draws payers uniformly (FIXTURES.md,
#: `id_usuario_pagador`); the skew is this benchmark's choice, to put hot
#: keys into the per-payer shuffles.
ZIPF_S = 1.1
#: share of events whose event time lags behind the stream order, and the
#: share of those that lag by more than the 10-minute watermark.
OUT_OF_ORDER_SHARE = 0.10
LATE_SHARE = 0.02


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose): adding a new input kind
    never shifts the values of an existing one."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# --- dimensions ---------------------------------------------------------------


def write_dimensions(out_dir: str, seed: int, n_users: int) -> None:
    """`customer`, `nation` and `region` tables (payer and geo dimensions)."""
    rng = _rng(seed, "dims")
    keys = np.arange(n_users, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, N_NATIONS, n_users).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_users), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n_users)],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": np.arange(N_NATIONS, dtype=np.int32),
            "n_name": [f"NATION_{k}" for k in range(N_NATIONS)],
            "n_regionkey": (np.arange(N_NATIONS) % N_REGIONS).astype(np.int32),
        }
    )
    region = pa.table(
        {
            "r_regionkey": np.arange(N_REGIONS, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    _write(customer, f"{out_dir}/customer.parquet")
    _write(nation, f"{out_dir}/nation.parquet")
    _write(region, f"{out_dir}/region.parquet")


# --- transactions -------------------------------------------------------------


def transactions(
    seed: int,
    n: int,
    n_users: int,
    first_id: int = 0,
    span_s: float = 3600.0,
    stream: str = "tx",
) -> dict[str, np.ndarray]:
    """`n` transactions in stream order with Zipf-skewed payers.

    Event time advances evenly over `span_s` seconds; OUT_OF_ORDER_SHARE
    of the events carry an older event time (arrive out of order), and
    LATE_SHARE of all events lag by more than the watermark (late)."""
    rng = _rng(seed, stream)
    ranks = np.arange(1, n_users + 1, dtype=np.float64)
    p = ranks**-ZIPF_S
    p /= p.sum()
    payer_of_rank = rng.permutation(n_users)
    payers = payer_of_rank[rng.choice(n_users, size=n, p=p)]
    ts = EPOCH_US + (np.arange(n) * (span_s * 1e6 / max(n, 1))).astype(np.int64)
    ts += rng.integers(0, 1_000_000, n)
    disorder = rng.random(n)
    ooo = disorder < OUT_OF_ORDER_SHARE
    ts[ooo] -= rng.integers(1_000_000, WATERMARK_US // 2, int(ooo.sum()))
    late = disorder < LATE_SHARE
    ts[late] -= rng.integers(WATERMARK_US + 60_000_000, 3 * WATERMARK_US, int(late.sum()))
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts,
        "user_id": payers.astype(np.int64),
        "receiver": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(MODALITIES)[rng.integers(0, len(MODALITIES), n)],
        "value": np.round(rng.exponential(AMOUNT_MEAN, n) + 0.01, 2),  # whole cents, > 0
    }


def write_events(tx: dict[str, np.ndarray], out_dir: str) -> None:
    """The `events` table, the batch twin of the wire stream."""
    table = pa.table(
        {
            "event_id": tx["event_id"],
            "ts": pa.array(tx["ts"], pa.timestamp("us")),
            "user_id": tx["user_id"],
            "event_type": tx["event_type"],
            "value": tx["value"],
            "props": [f'{{"k": {k}}}' for k in tx["receiver"].tolist()],
        }
    )
    _write(table, f"{out_dir}/events.parquet")


def wire_lines(tx: dict[str, np.ndarray]) -> list[str]:
    """One JSON object per transaction, in the producer's 7-field wire
    format. Doubles are written with `repr` (shortest round-trip form), so
    parsing them back yields the identical double."""
    stamps = np.datetime_as_string(tx["ts"].astype("datetime64[us]"), unit="us")
    return [
        json.dumps(
            {
                "id_transacao": i,
                "id_usuario_pagador": u,
                "id_usuario_recebedor": r,
                "id_regiao": i % N_NATIONS,
                "modalidade_pagamento": m,
                "data_horario": s,
                "valor_transacao": v,
            }
        )
        for i, u, r, m, s, v in zip(
            tx["event_id"].tolist(),
            tx["user_id"].tolist(),
            tx["receiver"].tolist(),
            tx["event_type"].tolist(),
            stamps.tolist(),
            tx["value"].tolist(),
        )
    ]


def stage_wire_files(lines: list[str], out_dir: str, per_file: int, prefix: str = "part") -> list[str]:
    """Split wire lines into files of `per_file` lines; returns the paths
    in publish order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k, lo in enumerate(range(0, len(lines), per_file)):
        path = os.path.join(out_dir, f"{prefix}-{k:06d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines[lo : lo + per_file]))
            f.write("\n")
        paths.append(path)
    return paths


# --- documents and embeddings ---------------------------------------------------

VOCAB_SIZE = 3000
EMBED_DIM = 32


def write_corpus(
    out_dir: str,
    seed: int,
    n_docs: int,
    near_dup_share: float = 0.15,
    exact_dup_share: float = 0.05,
) -> None:
    """`documents` with planted near-duplicates and exact copies, plus
    `embeddings` with one vector per document."""
    rng = _rng(seed, "corpus")
    word_p = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -1.0
    word_p /= word_p.sum()
    vocab = np.array([f"w{k}" for k in range(VOCAB_SIZE)])
    lengths = rng.integers(20, 80, n_docs)
    docs = [
        " ".join(vocab[rng.choice(VOCAB_SIZE, size=n, p=word_p)]) for n in lengths
    ]
    n_near = int(n_docs * near_dup_share)
    n_exact = int(n_docs * exact_dup_share)
    targets = rng.choice(np.arange(1, n_docs), size=n_near + n_exact, replace=False)
    for j, t in enumerate(targets):
        src = docs[int(rng.integers(0, t))]
        if j < n_near:  # one substituted word: high, not perfect, Jaccard
            toks = src.split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(vocab[rng.integers(0, VOCAB_SIZE)])
            docs[t] = " ".join(toks)
        else:
            docs[t] = src
    ids = np.arange(n_docs, dtype=np.int64)
    _write(
        pa.table(
            {
                "doc_id": ids,
                "text": docs,
                "lang": np.array(["en", "pt", "es"])[ids % 3],
                "source": [f"src{k % 7}" for k in range(n_docs)],
                "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
            }
        ),
        f"{out_dir}/documents.parquet",
    )
    centers = rng.normal(0.0, 1.0, (8, EMBED_DIM))
    labels = rng.integers(0, 8, n_docs)
    vecs = (centers[labels] + rng.normal(0.0, 0.7, (n_docs, EMBED_DIM))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        pa.table(
            {
                "vec_id": ids,
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": labels.astype(np.int32),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )


# --- paced publisher ------------------------------------------------------------


def publish_paced(staged: list[str], dest_dir: str, t0: float, interval_s: float, log_path: str) -> None:
    """Publish staged file k at wall time t0 + k * interval_s, atomically
    (mtime stamped, then renamed into `dest_dir`), never catching up by
    skipping or slowing: a late publish only delays that one file. Writes
    one JSON line per file: name, due and actual publish wall time."""
    log = []
    for k, src in enumerate(staged):
        due = t0 + k * interval_s
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        now = time.time()
        os.utime(src, (now, now))
        name = os.path.basename(src)
        os.rename(src, os.path.join(dest_dir, name))
        log.append({"file": name, "due": due, "published": time.time()})
    with open(log_path + ".tmp", "w") as f:
        for rec in log:
            f.write(json.dumps(rec) + "\n")
    os.rename(log_path + ".tmp", log_path)


def main(argv: list[str]) -> None:
    """`gen.py publish <spec.json>`: run the paced publisher."""
    if len(argv) != 2 or argv[0] != "publish":
        raise SystemExit("usage: gen.py publish <spec.json>")
    with open(argv[1]) as f:
        spec = json.load(f)
    publish_paced(spec["staged"], spec["dest"], spec["t0"], spec["interval_s"], spec["log"])


if __name__ == "__main__":
    main(sys.argv[1:])
