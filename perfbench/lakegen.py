"""Seeded ER7 wire input for the lake benchmark.

Batches are a pure function of ``seed``, built from the 11 golden
messages of ``hcls_data_lake_spark.hl7.corpus``. Every message gets a
unique control id (MSH-10), so its content and hash are unique. Seeded
shares of each batch take one of three failure legs: a junk payload
(parses to nothing, so it is routed to the error zone), a missing
write claim (rejected by the authz gate) or a resend of an earlier
admitted message (rejected by the dedup gate). The generator knows
which leg every message takes, so the expected count of each leg is
exact.

Only numpy, pyarrow and the stdlib are used: the program under test
never sees the generator, only the files it writes.
"""

from __future__ import annotations

import base64
import hashlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WIRE_SCHEMA = pa.schema(
    [
        ("message_id", pa.int64()),
        ("msg_b64", pa.string()),
        ("writer_institution", pa.string()),
    ]
)
# DDL of the ingestion zone as the ingest chain writes it; the
# streaming promotion needs it up front.
INGESTION_DDL = (
    "message_id long, msg_b64 string, writer_institution string,"
    " msg string, msg_hash string, event string, protocol string,"
    " format string, source string"
)
INSTITUTIONS = tuple(f"hosp_{i}" for i in range(8))
DENIED_CLAIM = "no_such_clinic"

# Share of each failure leg in a batch (the rest are good messages).
JUNK_SHARE = 0.05
NOCLAIM_SHARE = 0.05
RESEND_SHARE = 0.05

_JUNK_ALPHABET = np.array(list("abcdefghijklmnopqrstuvwxyz     0123456789"))


def golden_messages() -> list[str]:
    from hcls_data_lake_spark.hl7.corpus import corpus_messages

    return [m for _, m in corpus_messages()]


def with_control_id(msg: str, control_id: str) -> str:
    """Replace MSH-10 (the message control id) of an ER7 message."""
    head, sep, rest = msg.partition("\r")
    fields = head.split("|")
    fields[9] = control_id
    return "|".join(fields) + sep + rest


def sha256_hex(msg: str) -> str:
    return hashlib.sha256(msg.encode("utf-8")).hexdigest()


@dataclass
class WireBatch:
    """One landed batch plus what the lake must make of it."""

    index: int
    ids: list[int]
    payloads: list[str]
    claims: list[str | None]
    legs: list[str]  # good | junk | noclaim | resend
    expected: dict[str, int] = field(default_factory=dict)

    def table(self) -> pa.Table:
        b64 = [base64.b64encode(p.encode("utf-8")).decode() for p in self.payloads]
        return pa.table(
            [pa.array(self.ids, pa.int64()), pa.array(b64), pa.array(self.claims)],
            schema=WIRE_SCHEMA,
        )

    def write(self, path: str) -> str:
        pq.write_table(self.table(), path)
        return path


class WireGenerator:
    """Deterministic ER7 wire feed for one seed.

    ``batch(b, n)`` returns batch ``b`` of ``n`` messages with ids
    ``[b * n, (b + 1) * n)``; batches must be drawn in order. Resends
    copy a good or junk message admitted in an EARLIER batch (within
    one batch the dedup gate only sees the registry, not its own rows),
    so the first batch has none.
    """

    def __init__(self, seed: int):
        self.seed = seed
        self.golden = golden_messages()
        self._admitted: list[tuple[str, str]] = []  # (payload, claim)

    def _good(self, rng, control_id: str) -> str:
        tmpl = self.golden[int(rng.integers(len(self.golden)))]
        return with_control_id(tmpl, control_id)

    def batch(self, b: int, n: int) -> WireBatch:
        rng = np.random.default_rng([self.seed, b])
        ids, payloads, claims, legs = [], [], [], []
        admitted_before = len(self._admitted)
        draws = rng.random(n)
        for j in range(n):
            mid = b * n + j
            u = draws[j]
            claim = INSTITUTIONS[int(rng.integers(len(INSTITUTIONS)))]
            if u < JUNK_SHARE:
                size = int(rng.integers(30, 300))
                body = "".join(rng.choice(_JUNK_ALPHABET, size))
                payload, leg = f"junk payload {self.seed}-{mid}: {body}", "junk"
            elif u < JUNK_SHARE + NOCLAIM_SHARE:
                payload = self._good(rng, f"PB{self.seed}x{mid}")
                claim, leg = None, "noclaim"
            elif u < JUNK_SHARE + NOCLAIM_SHARE + RESEND_SHARE and admitted_before:
                payload, claim = self._admitted[int(rng.integers(admitted_before))]
                leg = "resend"
            else:
                payload, leg = self._good(rng, f"PB{self.seed}x{mid}"), "good"
            ids.append(mid)
            payloads.append(payload)
            claims.append(claim)
            legs.append(leg)
        for p, c, leg in zip(payloads, claims, legs):
            if leg in ("good", "junk"):
                self._admitted.append((p, c))
        wb = WireBatch(b, ids, payloads, claims, legs)
        wb.expected = {
            "generated": n,
            "staged": legs.count("good"),
            "error": legs.count("junk"),
            "authz_rejected": legs.count("noclaim"),
            "dedup_rejected": legs.count("resend"),
            "admitted": legs.count("good") + legs.count("junk"),
            "wire_bytes": sum(len(p.encode("utf-8")) for p in payloads),
        }
        return wb
