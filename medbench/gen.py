"""Seeded input generator for the medallion benchmark.

numpy + pyarrow only (no Spark), so input generation is cheap, is timed
apart from the program, and the same seed always yields the same bytes.

Order and payment events are Kafka-shaped rows
(``raw_key, raw_value, topic, partition, offset, kafka_timestamp,
timestampType``; partition = order_id % 6) with the JSON envelopes the
silver parse expects (FIXTURES.md §1-3). ``EventStream`` keeps Kafka offsets
and the emitted orders across successive batches, so micro-batches continue
one topic and can redeliver records of earlier batches. It also keeps what
the gold fact must contain: ``expected_fact()`` is the cents-exact
``fct_sales_minute`` (gmv and paid_orders per minute over fully-paid orders)
of everything emitted so far.

The corpus tables (``documents``, ``embeddings``) follow the schema,
vocabulary, languages and sources of the sf0.1 test data (TESTDATA.md).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_PARTITIONS = 6
ORDERS_TOPIC = "orders.events"
PAYMENTS_TOPIC = "payments.events"
# Stream head of the base history: 2026-03-01T12:00:00Z. Fixed, so a seed
# fully determines every timestamp.
BASE_END_S = 1_772_366_400
DAY_S = 86_400
ORPHAN_ID_BASE = 100_000_000

KAFKA_SCHEMA = pa.schema(
    [
        ("raw_key", pa.string()),
        ("raw_value", pa.string()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("kafka_timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
    ]
)

# Payment outcome shares (cumulative thresholds on one uniform draw).
UNPAID, PARTIAL, SPLIT, OVERPAID = 0.10, 0.18, 0.26, 0.30
ORPHAN_SHARE = 0.01


def _s(values) -> pa.Array:
    """Any numpy/pyarrow array -> pyarrow string array."""
    return pc.cast(pa.array(values), pa.string())


def _join(*parts) -> pa.Array:
    """Element-wise string concatenation; str parts are broadcast."""
    return pc.binary_join_element_wise(*parts, "")


def _dollars(cents: np.ndarray) -> pa.Array:
    """Integer cents -> '123.45' (exact 2-dp JSON number)."""
    return _join(_s(cents // 100), ".", pc.utf8_lpad(_s(cents % 100), 2, "0"))


def _iso(seconds: np.ndarray) -> pa.Array:
    ts = pa.array(seconds.astype("int64"), pa.timestamp("s"))
    return pc.strftime(ts, format="%Y-%m-%dT%H:%M:%SZ")


class EventStream:
    """Both topics of one order stream, emitted batch by batch."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.next_order_id = 1
        self.next_orphan_id = ORPHAN_ID_BASE
        self.offsets = {
            ORDERS_TOPIC: np.zeros(N_PARTITIONS, np.int64),
            PAYMENTS_TOPIC: np.zeros(N_PARTITIONS, np.int64),
        }
        self.sent: dict[str, list[pa.Table]] = {ORDERS_TOPIC: [], PAYMENTS_TOPIC: []}
        # Per emitted order: event minute, total cents, fully paid.
        self._minute: list[np.ndarray] = []
        self._cents: list[np.ndarray] = []
        self._paid: list[np.ndarray] = []
        self.props = {
            "orders": 0,
            "order_events": 0,
            "payment_events": 0,
            "redelivered_events": 0,
            "redelivered_from_earlier_batches": 0,
            "late_orders": 0,
            "unpaid": 0,
            "partial": 0,
            "split": 0,
            "overpaid": 0,
            "orphan_payments": 0,
        }

    # -- Kafka framing ----------------------------------------------------

    def _frame(self, topic, order_ids, kafka_s, values) -> pa.Table:
        """Attach Kafka metadata; offsets continue per partition in
        kafka-timestamp order."""
        order = np.argsort(kafka_s, kind="stable")
        order_ids, kafka_s = order_ids[order], kafka_s[order]
        values = values.take(pa.array(order))
        part = (order_ids % N_PARTITIONS).astype(np.int32)
        offset = np.empty(len(part), np.int64)
        base = self.offsets[topic]
        for p in range(N_PARTITIONS):
            idx = np.flatnonzero(part == p)
            offset[idx] = base[p] + np.arange(len(idx))
            base[p] += len(idx)
        n = len(part)
        return pa.table(
            [
                _s(order_ids),
                values,
                pa.array([topic] * n, pa.string()),
                pa.array(part),
                pa.array(offset),
                pa.array(kafka_s * 1_000_000, pa.int64()).cast(
                    pa.timestamp("us", tz="UTC")
                ),
                pa.array(np.zeros(n, np.int32)),
            ],
            schema=KAFKA_SCHEMA,
        )

    def _redeliver(self, topic, fresh: pa.Table, n_dup: int, old_share: float):
        """Pick ``n_dup`` records to deliver twice: ``old_share`` of them
        from earlier batches of the topic, the rest from ``fresh``."""
        pools = self.sent[topic]
        n_old = int(round(n_dup * old_share)) if pools else 0
        picks = []
        if n_old:
            old = pa.concat_tables(pools)
            picks.append(old.take(pa.array(self.rng.choice(old.num_rows, n_old, replace=False))))
        n_new = n_dup - n_old
        if n_new:
            picks.append(fresh.take(pa.array(self.rng.choice(fresh.num_rows, n_new, replace=False))))
        self.props["redelivered_events"] += n_dup
        self.props["redelivered_from_earlier_batches"] += n_old
        return picks

    # -- one batch ----------------------------------------------------------

    def batch(
        self,
        n_orders: int,
        t_lo: int,
        t_hi: int,
        late_share: float = 0.0,
        late_max_s: int = 0,
        redelivery_share: float = 0.05,
        old_redelivery: dict[str, float] | None = None,
    ) -> tuple[pa.Table, pa.Table]:
        """Emit ``n_orders`` orders arriving in ``(t_lo, t_hi]`` (epoch s)
        plus their payments.

        ``late_share`` of the orders carry an event_time up to
        ``late_max_s`` before their arrival. ``redelivery_share`` of the
        batch's records are delivered twice; ``old_redelivery[topic]`` of a
        topic's redeliveries are records of earlier batches.
        """
        rng = self.rng
        n = n_orders
        ids = np.arange(self.next_order_id, self.next_order_id + n, dtype=np.int64)
        self.next_order_id += n
        arrival = rng.integers(t_lo + 1, t_hi + 1, n)
        late = rng.random(n) < late_share
        event_s = arrival - late * rng.integers(1, max(late_max_s, 1) + 1, n)

        # Line items: 1-3 per order, integer cents throughout.
        n_items = rng.integers(1, 4, n)
        pid = rng.integers(1, 5_000, (n, 3))
        qty = rng.integers(1, 6, (n, 3))
        price = rng.integers(100, 20_000, (n, 3))
        present = np.arange(3)[None, :] < n_items[:, None]
        cents = (qty * price * present).sum(axis=1)
        item = [
            _join('{"product_id":', _s(pid[:, k]), ',"qty":', _s(qty[:, k]),
                  ',"price":', _dollars(price[:, k]), "}")
            for k in range(3)
        ]
        items = item[0]
        for k in (1, 2):
            items = pc.if_else(pa.array(n_items > k), _join(items, ",", item[k]), items)
        sid = _s(ids)
        user = _join("user", _s(rng.integers(1, 50_000, n)), "@example.com")
        order_json = _join(
            '{"event_type":"order.created","event_version":"1.0","trace_id":"t-', sid,
            '","order_id":"', sid, '","user_id":"', user, '","items":[', items,
            '],"currency":"USD","total_amount":', _dollars(cents),
            ',"status":"CREATED","event_time":"', _iso(event_s), '","event_id":"e-', sid, '"}',
        )
        orders = self._frame(ORDERS_TOPIC, ids, arrival, order_json)

        # Payments: unpaid / partial / split / overpaid / exact, plus orphans.
        u = rng.random(n)
        first = np.where(u < PARTIAL, cents // 2, cents)
        first = np.where((u >= PARTIAL) & (u < SPLIT), cents * 6 // 10, first)
        first = np.where((u >= SPLIT) & (u < OVERPAID), cents + cents // 10, first)
        paid = u >= UNPAID
        split = (u >= PARTIAL) & (u < SPLIT)
        delay = rng.integers(30, 601, n)
        n_orphan = int(round(n * ORPHAN_SHARE))
        orphan_ids = np.arange(self.next_orphan_id, self.next_orphan_id + n_orphan)
        self.next_orphan_id += n_orphan
        p_ids = np.concatenate([ids[paid], ids[split], orphan_ids])
        p_cents = np.concatenate(
            [first[paid], (cents - cents * 6 // 10)[split], np.full(n_orphan, 999)]
        )
        p_kafka = np.concatenate(
            [
                event_s[paid] + delay[paid],
                event_s[split] + delay[split] + 60,
                t_lo + rng.integers(1, max(t_hi - t_lo, 1) + 1, n_orphan),
            ]
        )
        pay_json = _join(
            '{"type":"payment.succeeded","order_id":', _s(p_ids), ',"amount_cents":',
            _s(p_cents), ',"currency":"USD","user_email":"user', _s(p_ids), '@example.com"}',
        )
        payments = self._frame(PAYMENTS_TOPIC, p_ids, p_kafka, pay_json)

        out = []
        for topic, fresh in ((ORDERS_TOPIC, orders), (PAYMENTS_TOPIC, payments)):
            n_dup = int(round(fresh.num_rows * redelivery_share))
            old_share = (old_redelivery or {}).get(topic, 0.0)
            dups = self._redeliver(topic, fresh, n_dup, old_share)
            self.sent[topic].append(fresh)
            out.append(pa.concat_tables([fresh, *dups]))

        self._minute.append(event_s // 60)
        self._cents.append(cents)
        self._paid.append(u >= PARTIAL)  # split, overpaid, exact
        p = self.props
        p["orders"] += n
        p["order_events"] += out[0].num_rows
        p["payment_events"] += out[1].num_rows
        p["late_orders"] += int(late.sum())
        p["unpaid"] += int((u < UNPAID).sum())
        p["partial"] += int(((u >= UNPAID) & (u < PARTIAL)).sum())
        p["split"] += int(split.sum())
        p["overpaid"] += int(((u >= SPLIT) & (u < OVERPAID)).sum())
        p["orphan_payments"] += n_orphan
        return out[0], out[1]

    def expected_fact(self) -> dict[int, tuple[int, int]]:
        """{minute_epoch_s: (gmv_cents, paid_orders)} over fully-paid
        orders emitted so far."""
        paid = np.concatenate(self._paid)
        minute = np.concatenate(self._minute)[paid]
        cents = np.concatenate(self._cents)[paid]
        keys, inv = np.unique(minute, return_inverse=True)
        gmv = np.bincount(inv, weights=cents.astype(np.float64)).astype(np.int64)
        cnt = np.bincount(inv)
        return {int(k) * 60: (int(g), int(c)) for k, g, c in zip(keys, gmv, cnt)}


def write_parquet(table: pa.Table, path: str) -> int:
    """Land ``table`` atomically (hidden temp name, then rename, so a file
    stream never lists a half-written file). Returns bytes written."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return os.path.getsize(path)


def write_split(table: pa.Table, out_dir: str, stem: str, n_files: int) -> int:
    """Write ``table`` as ``n_files`` parquet files (Kafka segments)."""
    os.makedirs(out_dir, exist_ok=True)
    size = 0
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        size += write_parquet(part, os.path.join(out_dir, f"{stem}-{i:03d}.parquet"))
    return size


# -- corpus -------------------------------------------------------------------

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
NEAR_DUP_MIN_WORDS = 40


def documents(seed: int, n_docs: int, near_dup_share: float) -> tuple[pa.Table, dict]:
    """Random-word documents plus ``near_dup_share`` near-duplicates.

    A near-duplicate copies an original of at least 40 words with one word
    replaced, which keeps its 12-char-shingle Jaccard with the original at
    about 0.85 or more, while unrelated documents stay far below 0.5: the
    bimodal similarity the LSH queries' oracles rely on.
    """
    rng = np.random.default_rng(seed)
    n_dup = int(round(n_docs * near_dup_share))
    n_orig = n_docs - n_dup
    lengths = rng.integers(10, 101, n_orig)
    words = [rng.integers(0, len(VOCAB), k) for k in lengths]
    long_ones = np.flatnonzero(lengths >= NEAR_DUP_MIN_WORDS)
    sources = rng.choice(long_ones, n_dup)
    for src in sources:
        w = words[src].copy()
        w[rng.integers(0, len(w))] = rng.integers(0, len(VOCAB))
        words.append(w)
    vocab = np.array(VOCAB, dtype=object)
    texts = [" ".join(vocab[w]) for w in words]
    perm = rng.permutation(n_docs)  # interleave near-dups with originals
    texts = [texts[i] for i in perm]
    lang = rng.choice(len(LANGS), n_docs, p=LANG_P)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in lang], pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return table, {"documents": n_docs, "near_duplicates": n_dup,
                   "near_dup_share": near_dup_share}


def embeddings(seed: int, n_vec: int, dim: int = 64, n_labels: int = 10,
               noise: float = 0.08) -> tuple[pa.Table, dict]:
    """Unit vectors around ``n_labels`` random unit centres (float32)."""
    rng = np.random.default_rng(seed + 1)
    centres = rng.normal(size=(n_labels, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, n_labels, n_vec)
    x = centres[label] + rng.normal(scale=noise, size=(n_vec, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(label.astype(np.int32)),
        }
    )
    return table, {"vectors": n_vec, "dim": dim, "labels": n_labels, "noise": noise}
