"""Seeded, deterministic input generator for the benchmark.

Everything here is independent of the program under test: the wire
encoder, gzip framing and base58check key rendering are re-implemented
so that the expected values the correctness checks compare against
are not computed by the code being checked.

Two kinds of input:

- Helium wire files (``{prefix}.{epoch_ms}.gz``: gzip of 4-byte
  big-endian length-prefixed protobuf frames) for ``verified-speedtest``
  and ``mobile-rewards``. Each ``write_*`` call returns a ``FileSet``
  with the generated input properties and, per warehouse table, the
  row count and column sums the ingest must reproduce.
- A small TPC-H-shaped parquet fixture (``lineitem orders part events
  embeddings``) for the registry queries.

The same seed always yields byte-identical files: gzip headers carry
mtime 0 and no file name.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import random
import struct
from dataclasses import dataclass, field

T0_MS = 1_700_000_000_000  # 2023-11-14T22:13:20Z
ARROW_BATCH_ROWS = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch default

SPEEDTEST_PREFIX = "verified_speedtest"
MOBILE_PREFIX = "mobile_network_reward_shares_v1"

# ---------------------------------------------------------------------------
# protobuf wire encoding (only what the two message families need)
# ---------------------------------------------------------------------------
_VARINT, _LEN = 0, 2


def varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def f_int(num: int, v: int) -> bytes:
    return varint(num << 3 | _VARINT) + varint(v)


def f_len(num: int, payload: bytes) -> bytes:
    return varint(num << 3 | _LEN) + varint(len(payload)) + payload


def f_str(num: int, s: str) -> bytes:
    return f_len(num, s.encode())


def f_dec(num: int, value: str) -> bytes:
    """helium.Decimal { string value = 1 }."""
    return f_len(num, f_str(1, value))


def frame_file(path: str, payloads: list[bytes]) -> int:
    """Write a framed gzip file; returns the decompressed byte count."""
    raw = b"".join(struct.pack(">I", len(p)) + p for p in payloads)
    with open(path, "wb") as fh:
        # mtime=0 and no filename: same seed -> byte-identical file
        with gzip.GzipFile(filename="", mode="wb", fileobj=fh, mtime=0) as gz:
            gz.write(raw)
    return len(raw)


# ---------------------------------------------------------------------------
# Helium key rendering (base58check of 0x00 || key)
# ---------------------------------------------------------------------------
_B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"


def b58check(payload: bytes) -> str:
    data = payload + hashlib.sha256(hashlib.sha256(payload).digest()).digest()[:4]
    n = int.from_bytes(data, "big")
    out = []
    while n:
        n, r = divmod(n, 58)
        out.append(_B58[r])
    pad = len(data) - len(data.lstrip(b"\x00"))
    return "1" * pad + "".join(reversed(out))


def hotspot_key(seed: int, pool: str, j: int) -> bytes:
    """33-byte ed25519-style public key (type byte 0x01 + 32 bytes)."""
    return b"\x01" + hashlib.blake2b(f"{seed}:{pool}:{j}".encode(), digest_size=32).digest()


def render_key(key: bytes) -> str:
    return b58check(b"\x00" + key)


# ---------------------------------------------------------------------------
# generated-input bookkeeping
# ---------------------------------------------------------------------------
@dataclass
class TableTruth:
    rows: int = 0
    sums: dict[str, float] = field(default_factory=dict)
    by_file: dict[str, int] = field(default_factory=dict)  # rows per source file
    keys: set = field(default_factory=set)  # rendered hotspot keys (speedtests, radio rewards)

    def add(self, file: str, **cols: float) -> None:
        self.rows += 1
        self.by_file[file] = self.by_file.get(file, 0) + 1
        for c, v in cols.items():
            self.sums[c] = self.sums.get(c, 0) + v


@dataclass
class FileSet:
    """What one generator call wrote, and what ingesting it must yield."""

    paths: list[str] = field(default_factory=list)
    records: int = 0
    gz_bytes: int = 0
    payload_bytes: int = 0  # decompressed frame bytes, headers included
    key_rows: int = 0  # key-bearing rows in Arrow-batch-sized chunks ...
    key_distinct: int = 0  # ... and the distinct keys summed over chunks
    key_batches: list = field(default_factory=list)  # the chunks, for the key kernel
    tables: dict[str, TableTruth] = field(default_factory=dict)

    def truth(self, table: str) -> TableTruth:
        return self.tables.setdefault(table, TableTruth())

    def merge(self, other: "FileSet") -> None:
        self.paths += other.paths
        self.records += other.records
        self.gz_bytes += other.gz_bytes
        self.payload_bytes += other.payload_bytes
        self.key_rows += other.key_rows
        self.key_distinct += other.key_distinct
        self.key_batches += other.key_batches
        for name, t in other.tables.items():
            mine = self.truth(name)
            mine.rows += t.rows
            for c, v in t.sums.items():
                mine.sums[c] = mine.sums.get(c, 0) + v
            mine.by_file.update(t.by_file)
            mine.keys |= t.keys

    @property
    def distinct_key_share(self) -> float:
        """Distinct keys per Arrow batch / rows per batch: the base of
        the pubkey memo's hit ratio (hit ratio = 1 - this share)."""
        return self.key_distinct / self.key_rows if self.key_rows else 0.0

    def properties(self) -> dict:
        return {
            "records": self.records,
            "files": len(self.paths),
            "gz_bytes": self.gz_bytes,
            "payload_bytes": self.payload_bytes,
            "distinct_key_share_per_arrow_batch": round(self.distinct_key_share, 4),
        }


def _count_batches(fs: FileSet, key_seq: list[bytes]) -> None:
    """Chunk one file's key column the way the key UDF sees it: Arrow
    batches of at most ARROW_BATCH_ROWS rows that never span files."""
    for i in range(0, len(key_seq), ARROW_BATCH_ROWS):
        chunk = key_seq[i : i + ARROW_BATCH_ROWS]
        fs.key_rows += len(chunk)
        fs.key_distinct += len(set(chunk))
        fs.key_batches.append(chunk)


def read_frames(path: str) -> list[bytes]:
    """Decompressed frame payloads of one generated file."""
    with gzip.open(path, "rb") as fh:
        raw = fh.read()
    out, pos = [], 0
    while pos + 4 <= len(raw):
        (n,) = struct.unpack_from(">I", raw, pos)
        out.append(raw[pos + 4 : pos + 4 + n])
        pos += 4 + n
    return out


def _write(fs: FileSet, path: str, payloads: list[bytes]) -> None:
    fs.payload_bytes += frame_file(path, payloads)
    fs.gz_bytes += os.path.getsize(path)
    fs.paths.append(path)
    fs.records += len(payloads)


# ---------------------------------------------------------------------------
# verified-speedtest
# ---------------------------------------------------------------------------
def write_speedtests(
    out_dir: str,
    seed: int,
    files: int,
    per_file: int,
    key_pool: int,
    first_ms: int = T0_MS,
    step_ms: int = 3_600_000,
) -> FileSet:
    """``files`` x ``per_file`` VerifiedSpeedtest frames. Hotspot keys
    are drawn uniformly from ``key_pool`` keys; ``download_speed`` is
    unique per record (window-rank queries need no tie-break luck)."""
    rng = random.Random(f"speedtest:{seed}")
    fs = FileSet()
    truth = fs.truth("verified_speedtest_report")
    keys: dict[int, bytes] = {}
    used: set[bytes] = set()
    g = 0
    for f in range(files):
        base_ms = first_ms + f * step_ms
        name = f"{SPEEDTEST_PREFIX}.{base_ms}.gz"
        payloads = []
        key_seq: list[bytes] = []
        for i in range(per_file):
            j = rng.randrange(key_pool)
            key = keys.get(j) or keys.setdefault(j, hotspot_key(seed, "st", j))
            key_seq.append(key)
            rx_ms = base_ms + i * 50
            up = rng.randrange(1_000_000, 100_000_000)
            down = 1_000_000 + rng.randrange(10_000) * 100_000 + g
            lat = rng.randrange(5, 250)
            req = (
                f_len(1, key)
                + f_str(2, f"sn-{j}")
                + f_int(3, rx_ms // 1000)
                + f_int(4, up)
                + f_int(5, down)
                + f_int(6, lat)
                + f_len(7, rng.randbytes(64))
            )
            ingest = f_int(1, rx_ms) + f_len(2, req)
            result = 1 if rng.random() < 0.1 else 0
            payloads.append(f_len(1, ingest) + f_int(2, result) + f_int(3, rx_ms + 400))
            truth.add(name, upload_speed=up, download_speed=down, latency=lat, fail=result)
            g += 1
        _write(fs, os.path.join(out_dir, name), payloads)
        _count_batches(fs, key_seq)
        used.update(key_seq)
    truth.keys = {render_key(k) for k in used}
    return fs


# ---------------------------------------------------------------------------
# mobile-rewards (MobileRewardShare, six oneof arms + repeated fields)
# ---------------------------------------------------------------------------
# arm weights: radio_reward_v2, gateway, subscriber, service_provider,
# unallocated, promotion
_MOBILE_ARMS = ("radio", "gateway", "subscriber", "sp", "unallocated", "promotion")
_MOBILE_WEIGHTS = (35, 30, 15, 5, 5, 10)


def _decimal(rng: random.Random) -> tuple[str, float]:
    v = rng.randrange(0, 10_000_000) / 1000
    return f"{v:.3f}", v


def write_mobile_rewards(
    out_dir: str,
    seed: int,
    files: int,
    per_file: int,
    key_pool: int,
    first_ms: int = T0_MS,
    step_ms: int = 60_000,
    tag: str = "",
) -> FileSet:
    """``files`` x ``per_file`` MobileRewardShare frames with the six
    oneof arms mixed and radio rewards carrying 1-3 trust scores, 0-5
    speedtests and 1-6 covered hexes. ``tag`` salts the record stream
    so successive batches of one seed differ."""
    rng = random.Random(f"mobile:{seed}:{tag}")
    fs = FileSet()
    t = {
        name: fs.truth(f"mobile_{name}")
        for name in (
            "gateway_rewards",
            "subscriber_rewards",
            "service_provider_rewards",
            "unallocated_rewards",
            "promotion_rewards",
            "radio_rewards",
            "reward_trust_scores",
            "reward_speedtests",
            "reward_covered_hexes",
        )
    }
    keys: dict[int, bytes] = {}
    key_seq: list[bytes] = []  # this file's keys, in frame order
    radio_keys: set[bytes] = set()

    def key() -> bytes:
        j = rng.randrange(key_pool)
        k = keys.get(j) or keys.setdefault(j, hotspot_key(seed, "mr", j))
        key_seq.append(k)
        return k

    for f in range(files):
        base_ms = first_ms + f * step_ms
        name = f"{MOBILE_PREFIX}.{base_ms}.gz"
        payloads = []
        key_seq.clear()
        for _ in range(per_file):
            start_s = base_ms // 1000 - 86_400
            msg = f_int(1, start_s) + f_int(2, start_s + 86_400)
            arm = rng.choices(_MOBILE_ARMS, _MOBILE_WEIGHTS)[0]
            if arm == "gateway":
                dc, rb = rng.randrange(1, 10**9), rng.randrange(1, 10**9)
                msg += f_len(4, f_len(1, key()) + f_int(2, dc) + f_int(3, rb) + f_int(4, 1000))
                t["gateway_rewards"].add(name, dc_transfer_reward=dc, rewardable_bytes=rb)
            elif arm == "subscriber":
                amt = rng.randrange(1, 10**9)
                msg += f_len(5, f_len(1, rng.randbytes(16)) + f_int(2, amt) + f_int(3, 7))
                t["subscriber_rewards"].add(name, discovery_location_amount=amt)
            elif arm == "sp":
                amt = rng.randrange(1, 10**9)
                msg += f_len(6, f_int(1, 0) + f_int(2, amt) + f_str(3, "helium-mobile"))
                t["service_provider_rewards"].add(name, amount=amt)
            elif arm == "unallocated":
                amt = rng.randrange(1, 10**9)
                msg += f_len(7, f_int(1, rng.randrange(6)) + f_int(2, amt))
                t["unallocated_rewards"].add(name, amount=amt)
            elif arm == "promotion":
                sp_amt, matched = rng.randrange(1, 10**9), rng.randrange(1, 10**9)
                msg += f_len(9, f_str(1, f"promo-{rng.randrange(50)}") + f_int(2, sp_amt) + f_int(3, matched))
                t["promotion_rewards"].add(name, matched_amount=matched)
            else:
                radio_key = key()
                radio_keys.add(radio_key)
                msg += f_len(8, _radio_reward(rng, radio_key, t, name))
            payloads.append(msg)
        _write(fs, os.path.join(out_dir, name), payloads)
        _count_batches(fs, key_seq)
    t["radio_rewards"].keys = {render_key(k) for k in radio_keys}
    return fs


def _radio_reward(rng: random.Random, key: bytes, t: dict[str, TableTruth], name: str) -> bytes:
    poc = rng.randrange(1, 10**9)
    cov_s, cov = _decimal(rng)
    body = (
        f_len(1, key)
        + f_dec(3, cov_s)
        + f_dec(4, "0")
        + f_dec(5, "1.5")
        + f_int(7, poc)
        + f_int(9, 1_690_000_000)
        + f_len(10, rng.randbytes(16))
        + f_int(13, rng.randrange(3))
    )
    for _ in range(rng.randrange(1, 4)):
        m = rng.randrange(0, 5000)
        body += f_len(15, f_int(1, m) + f_dec(2, "0.25"))
        t["reward_trust_scores"].add(name, meters_to_asserted=m)
    for _ in range(rng.randrange(0, 6)):
        up = rng.randrange(1, 10**8)
        body += f_len(16, f_int(1, up) + f_int(2, 2 * up) + f_int(3, 20) + f_int(4, 1_700_000_000))
        t["reward_speedtests"].add(name, upload=up)
    for _ in range(rng.randrange(1, 7)):
        rank = rng.randrange(1, 40)
        body += f_len(
            17,
            f_int(1, 0x8A2A1072B59FFFF + rng.randrange(1000))
            + f_dec(2, "10")
            + f_int(4, rng.randrange(3))
            + f_int(8, rank),
        )
        t["reward_covered_hexes"].add(name, rank=rank)
    t["radio_rewards"].add(name, base_poc_reward=poc, base_coverage_points_sum=cov)
    return body


# ---------------------------------------------------------------------------
# TPC-H-shaped parquet fixture for the registry queries
# ---------------------------------------------------------------------------
def write_tpch(out_dir: str, seed: int, orders: int = 30_000) -> dict[str, int]:
    """lineitem/orders/part/events/embeddings with the column names,
    types and value ranges the registry queries read. Returns row
    counts per table."""
    from datetime import datetime, timezone

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_part = max(orders // 8, 100)
    day_us = 86_400 * 1_000_000
    epoch95 = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000

    def ts(us):
        return pa.array(us, type=pa.timestamp("us"))

    ok = np.arange(1, orders + 1, dtype=np.int64)
    items = rng.integers(1, 8, orders)
    prices = np.round(rng.uniform(1000, 500_000, orders), 2)
    pq.write_table(
        pa.table(
            {
                "o_orderkey": ok,
                "o_custkey": rng.integers(1, orders // 10 + 2, orders),
                "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), orders),
                "o_totalprice": prices,
                "o_orderdate": ts(epoch95 + rng.integers(0, 2400, orders) * day_us),
                "o_orderpriority": rng.choice(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM"]), orders),
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
    )
    n_li = int(items.sum())
    line_no = np.concatenate([np.arange(1, k + 1) for k in items]).astype(np.int32)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": np.repeat(ok, items),
                "l_partkey": rng.integers(1, n_part + 1, n_li),
                "l_suppkey": rng.integers(1, 1001, n_li),
                "l_linenumber": line_no,
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
                "l_linestatus": rng.choice(np.array(["O", "F"]), n_li),
                "l_shipdate": ts(epoch95 + rng.integers(0, 2500, n_li) * day_us),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    pq.write_table(
        pa.table(
            {
                "p_partkey": pk,
                "p_name": np.array([f"part {i}" for i in pk]),
                "p_brand": np.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
                "p_type": rng.choice(np.array(["STEEL", "BRASS", "TIN"]), n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2),
            }
        ),
        os.path.join(out_dir, "part.parquet"),
    )
    n_ev = orders
    jan24 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
    pq.write_table(
        pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": ts(jan24 + rng.integers(0, 30 * day_us, n_ev)),
                "user_id": rng.integers(0, max(n_ev // 60, 10), n_ev),
                "event_type": rng.choice(
                    np.array(["signup", "click", "error", "view", "purchase"]), n_ev
                ),
                "value": np.round(rng.uniform(0, 500, n_ev), 2),
                "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )
    n_emb = 400
    emb = rng.standard_normal((n_emb, 16)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(n_emb, dtype=np.int64),
                "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                "label": rng.integers(0, 10, n_emb).astype(np.int32),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return {"orders": orders, "lineitem": n_li, "part": n_part, "events": n_ev, "embeddings": n_emb}
