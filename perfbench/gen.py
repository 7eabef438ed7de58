"""Seeded input generators for the benchmark workloads.

Every table has the schema of the engine's fixture tables
(``sources.catalog.FIXTURE_TABLES``) so the registered queries and their
DuckDB oracles run on it unchanged. Sizes scale like the fixtures
(``sf=0.1`` gives 5,000 documents); values are drawn
from ``numpy.random.default_rng(seed)``, so one seed always gives the
same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: Word counts of the long documents added to the fixture-shaped corpus:
#: fixture documents stay under 100 words, while ROADMAP measured
#: ``functions.text.shingles`` growing superlinearly from 1k words on.
#: Longer ones do not fit the run time: the MinHash oracle re-splits a
#: document once per position, so a 4,000-word one adds ~8 s to it.
LONG_DOC_WORDS = (1000, 2000)

_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` documents shaped like the driver's ``documents`` fixture
    (seed 42; 5,000 rows at sf0.1): 10-99 words drawn uniformly from
    ``VOCAB``, and about 5% a copy of an earlier document with ``dup``
    appended. Then one document per entry of ``LONG_DOC_WORDS``, of
    that many words, drawn the same way."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    texts += [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in LONG_DOC_WORDS]
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def write_documents(out_dir: str, seed: int, sf: float) -> str:
    """Write the ``documents`` table for scale ``sf`` (as many rows as
    the fixture at that scale, plus the long documents) as
    ``out_dir/documents.parquet``, where ``sources.catalog.load_table``
    reads it; returns its path."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    n = max(int(50_000 * sf), 500)
    pq.write_table(documents_table(np.random.default_rng(seed), n), path)
    return path


class TrickleSource:
    """Landing-zone generator for the incremental-ETL workload.

    Rows have the ``events`` columns plus ``seq`` (a global, strictly
    increasing version used as the precombine field) and ``created_at``
    (epoch ms, stamped when the file lands). It keeps the expected
    table state — the winning ``value`` per ``event_id`` — so the reader
    can check the target after every batch.
    """

    SCHEMA = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
            ("seq", pa.int64()),
            ("created_at", pa.int64()),
        ]
    )

    def __init__(self, seed: int, landing_dir: str, batch_rows: int, n_users: int = 1500):
        self.rng = np.random.default_rng(seed)
        self.landing_dir = landing_dir
        self.batch_rows = batch_rows
        self.n_users = n_users
        self.next_id = 0
        self.next_seq = 0
        self.files = 0
        self.bytes_landed = 0
        #: expected state: value in cents per event_id (-1 = absent)
        self.cents = np.zeros(0, dtype=np.int64)
        os.makedirs(landing_dir, exist_ok=True)

    def _rows(self, ids: np.ndarray) -> pa.Table:
        n = len(ids)
        rng = self.rng
        seq = np.arange(self.next_seq, self.next_seq + n, dtype=np.int64)
        self.next_seq += n
        cents = rng.integers(1, 50_000, n)
        ts = _EPOCH_2024 + ids * 1_000_000 + rng.integers(0, 1_000_000, n)
        return pa.table(
            {
                "event_id": pa.array(ids),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, self.n_users, n).astype(np.int64)),
                "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
                "value": cents / 100.0,
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
                "seq": pa.array(seq),
                "created_at": pa.array(np.zeros(n, dtype=np.int64)),
            },
            schema=self.SCHEMA,
        )

    def _new_ids(self, n: int) -> np.ndarray:
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        grown = np.full(self.next_id, -1, dtype=np.int64)
        grown[: len(self.cents)] = self.cents
        self.cents = grown
        return ids

    def make_bootstrap(self, n: int) -> pa.Table:
        return self._rows(self._new_ids(n))

    def make_batch(self) -> pa.Table:
        """About 80% new keys and 20% updates that favour recently
        inserted keys; about 2% of rows repeat a key of the same batch
        with a higher ``seq``, so precombine has a winner to pick."""
        n = self.batch_rows
        n_upd = int(round(n * 0.2))
        n_dup = max(1, int(round(n * 0.02)))
        n_new = n - n_upd - n_dup
        existing = self.next_id
        back = np.minimum(self.rng.geometric(1.0 / max(existing / 8.0, 1.0), n_upd), existing)
        upd = (existing - back).astype(np.int64)
        new = self._new_ids(n_new)
        ids = np.concatenate([upd, new])
        ids = np.concatenate([ids, ids[self.rng.integers(0, len(ids), n_dup)]])
        return self._rows(ids)

    def land(self, table: pa.Table, created_at_ms: int) -> int:
        """Stamp ``created_at``, write the file into the landing dir,
        apply it to the expected state; returns the rows landed."""
        table = table.set_column(
            table.schema.get_field_index("created_at"),
            "created_at",
            pa.array(np.full(table.num_rows, created_at_ms, dtype=np.int64)),
        )
        path = os.path.join(self.landing_dir, f"batch-{self.files:06d}.parquet")
        pq.write_table(table, path)
        self.files += 1
        self.bytes_landed += os.path.getsize(path)
        ids = table.column("event_id").to_numpy()
        cents = np.round(table.column("value").to_numpy() * 100).astype(np.int64)
        order = np.argsort(table.column("seq").to_numpy(), kind="stable")
        # Later seq overwrites earlier: the same winner precombine picks.
        self.cents[ids[order]] = cents[order]
        return table.num_rows

    def expected_buckets(self, n_buckets: int) -> dict[int, tuple[int, int, int]]:
        """Per ``event_id % n_buckets``: (rows, sum of value cents, sum
        of event_id * value cents) of the expected table."""
        ids = np.nonzero(self.cents >= 0)[0].astype(np.int64)
        cents = self.cents[ids]
        b = ids % n_buckets
        rows = np.bincount(b, minlength=n_buckets)
        out: dict[int, tuple[int, int, int]] = {}
        for k in range(n_buckets):
            m = b == k
            out[k] = (int(rows[k]), int(cents[m].sum()), int((ids[m] * cents[m]).sum()))
        return out
