"""Seeded workload generator: a turns table plus each turn's golden outcome.

The fixture mix is pinned here by explicit name lists, so adding a
fixture to the package's registry never changes a workload. The
program under test only ever sees the parquet files written by
``write_corpus``; the goldens stay in this process.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# the 15 small registry kinds: every FIXTURES entry except pdf-large
SMALL_KINDS = (
    "pdf-cmap", "pdf-encoding-diff", "pdf-flate-text", "pdf-image-dct",
    "pdf-image-dct-prog", "pdf-image-dct-smask", "pdf-image-flate",
    "pdf-image-inline", "pdf-incremental", "pdf-lzw-text", "pdf-min-text",
    "pdf-multipage", "pdf-objstm", "pdf-tj-array", "pdf-xrefstream",
)
ENCRYPTED_KINDS = ("pdf_encrypted_rc4", "pdf_encrypted_aes")
# golden outcome of every one of these is a parse_error row
ERROR_KINDS = ("pdf-broken-bad-length", "pdf-broken-header",
               "pdf-broken-truncated", "pdf-encrypted")
ERROR_SHARE = 0.05
LONG_CONV_SHARE = 0.02
# pdf_seeded_flate derives its words modulo this prime, so seeds that
# are distinct modulo it give distinct documents
FLATE_SEED_SPACE = 99991

WORKLOADS = {
    # name: (generator kind, turns)
    "mixed_small": ("mixed", 2400),
    "flate_distinct": ("flate", 480),
}

_EPOCH_US = 1_767_225_600 * 1_000_000  # 2026-01-01T00:00:00Z
_ROLES = ("user", "assistant", "tool")


@dataclass
class Corpus:
    conv_ids: list[str] = field(default_factory=list)
    turn_idxs: list[int] = field(default_factory=list)
    payloads: list[bytes] = field(default_factory=list)
    # (conv_id, turn_idx) -> (md5 hex of golden text, expects parse_error)
    goldens: dict[tuple[str, int], tuple[str, bool]] = field(
        default_factory=dict)

    @property
    def n_bytes(self) -> int:
        return sum(len(p) for p in self.payloads)

    def content_hash(self) -> str:
        h = hashlib.sha256()
        for cid, t, p in zip(self.conv_ids, self.turn_idxs, self.payloads):
            h.update(f"{cid}\0{t}\0{len(p)}\0".encode())
            h.update(p)
        return h.hexdigest()

    def add(self, conv_id: str, turn_idx: int, payload: bytes,
            golden_text: str, expects_error: bool) -> None:
        self.conv_ids.append(conv_id)
        self.turn_idxs.append(turn_idx)
        self.payloads.append(payload)
        self.goldens[(conv_id, turn_idx)] = (
            hashlib.md5(golden_text.encode("utf-8")).hexdigest(),
            expects_error)


def _conv_lengths(rng: random.Random, n_turns: int):
    """Skewed conversation lengths: ~2% long (12-40 turns), the rest 1-4;
    the last conversation is cut so the total is exactly ``n_turns``."""
    left = n_turns
    while left > 0:
        n = (rng.randint(12, 40) if rng.random() < LONG_CONV_SHARE
             else rng.randint(1, 4))
        n = min(n, left)
        left -= n
        yield n


def _mixed_draw(rng: random.Random):
    """Turn payloads drawn from the pinned mix, ~5% error kinds."""
    from pdf_parser_spark import fixtures as fx

    pool = {}
    for kind in SMALL_KINDS:
        pdf, golden = fx.get_fixture(kind)
        pool[kind] = (pdf, golden["text"], False)
    for kind in ENCRYPTED_KINDS:
        pdf, golden = getattr(fx, kind)()
        pool[kind] = (pdf, golden["text"], False)
    for kind in ERROR_KINDS:
        pdf, _golden = fx.get_fixture(kind)
        pool[kind] = (pdf, "", True)
    good = SMALL_KINDS + ENCRYPTED_KINDS

    def draw() -> tuple[bytes, str, bool]:
        if rng.random() < ERROR_SHARE:
            return pool[rng.choice(ERROR_KINDS)]
        return pool[rng.choice(good)]
    return draw


def _flate_draw(rng: random.Random):
    """A distinct ``pdf_seeded_flate`` document per turn."""
    from pdf_parser_spark.fixtures import pdf_seeded_flate

    next_seed = rng.randrange(FLATE_SEED_SPACE)

    def draw() -> tuple[bytes, str, bool]:
        nonlocal next_seed
        pdf, golden = pdf_seeded_flate(next_seed)
        next_seed = (next_seed + 1) % FLATE_SEED_SPACE
        return pdf, golden["text"], False
    return draw


def generate(workload: str, seed: int) -> Corpus:
    kind, n_turns = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    draw = _mixed_draw(rng) if kind == "mixed" else _flate_draw(rng)
    corpus = Corpus()
    for conv, length in enumerate(_conv_lengths(rng, n_turns)):
        conv_id = f"s{seed}-c{conv:06d}"
        for t in range(length):
            corpus.add(conv_id, t, *draw())
    return corpus


def write_corpus(corpus: Corpus, out_dir: str, n_files: int) -> None:
    """Write the turns table (the package's turns schema) as ``n_files``
    parquet files, so the scan has several splits."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(corpus.conv_ids)
    roles = [_ROLES[t % 3] for t in corpus.turn_idxs]
    table = pa.table({
        "conv_id": pa.array(corpus.conv_ids, pa.string()),
        "turn_idx": pa.array(corpus.turn_idxs, pa.int32()),
        "role": pa.array(roles, pa.string()),
        "text": pa.array([p.decode("latin-1") for p in corpus.payloads],
                         pa.string()),
        "tool": pa.array(["pdf_extract" if r == "tool" else ""
                          for r in roles], pa.string()),
        "ts": pa.array([_EPOCH_US + i * 60_000_000 for i in range(n)],
                       pa.timestamp("us", tz="UTC")),
    })
    step = -(-n // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir,
                                              f"part-{i:05d}.parquet"))
