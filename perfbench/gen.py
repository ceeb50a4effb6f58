"""Seeded input generators for the benchmark workloads.

Everything here is plain Python driven by one ``random.Random``: the same
seed always yields the same inputs, and the engine only ever sees the
staged files. Metric values are multiples of 1/64, so every quantized sum
the engine computes (``floor(v * 1e6)``) is an exact integer and the checks
can compare engine output with plain-Python expectations without tolerance
games.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

QUANT = 1_000_000
CPU_FIELDS = ("user", "system", "idle", "iowait")
#: epoch seconds of 2024-01-01T00:00:00Z; every generated window starts here
T0 = 1_704_067_200


def value(rng: random.Random) -> float:
    """A metric value in [0, 100) that is exact in binary (k/64)."""
    return rng.randrange(0, 6400) / 64


def qsum(values) -> int:
    """The engine's quantized sum of non-null values."""
    return sum(math.floor(v * QUANT) for v in values if v is not None)


def cpu_names(hosts: int, cpus: int) -> list[str]:
    return [
        f"srv{h}.cpu{c}.{m}"
        for h in range(hosts)
        for c in range(cpus)
        for m in CPU_FIELDS
    ]


def tagged_names(hosts: int) -> list[str]:
    """graphite-1.1 tagged series (``name;tag=value``)."""
    return [f"disk.used;host=srv{h};dc=dc{h % 2}" for h in range(hosts)]


def write_points(path: str, rows: list[tuple[str, int, float | None]]) -> None:
    """Stage ``(metric, epoch_s, value)`` rows as one parquet file."""
    metric, ts, val = zip(*rows)
    table = pa.table(
        {
            "metric": pa.array(metric, pa.string()),
            "ts": pa.array([t * 1_000_000 for t in ts], pa.timestamp("us", tz="UTC")),
            "value": pa.array(val, pa.float64()),
        }
    )
    pq.write_table(table, path)


# -- stream ingest -------------------------------------------------------------


@dataclass
class LineFeed:
    """A directory of graphite plaintext files for one stream run."""

    files: list[list[str]]
    #: (metric, ts, value) of every line that must reach the sink
    kept: list[tuple[str, int, float]]
    lines: int = 0
    malformed: int = 0
    late: int = 0


def _malformed(rng: random.Random, name: str, ts: int) -> str:
    return rng.choice(
        [
            f"{name} notanumber {ts}",
            f"{name} {value(rng)}",
            f"{name} {value(rng)} later",
            "",
            f" {value(rng)} {ts}",
        ]
    )


def line_feed(
    rng: random.Random,
    *,
    hosts: int,
    cpus: int,
    files: int,
    lines_per_file: int,
    minutes_per_file: int,
    malformed_share: float,
    late_share: float,
    ooo_share: float,
) -> LineFeed:
    """Graphite lines spread over ``files`` consecutive time slices.

    File ``k`` covers minutes ``[k*m, (k+1)*m)``. From the third file on,
    ``late_share`` of its lines carry a timestamp a day older than the
    first file, so they must be dropped: Spark filters late rows with the
    watermark of the batch before, so in the first two batches no row is
    late yet. From the second file on, ``ooo_share`` of the lines fall in
    the last two minutes of the previous file's slice: out of order, but
    inside the watermark, so they must be kept. ``malformed_share`` of all
    lines do not parse. Needs ``m`` above the stream's watermark delay."""
    names = cpu_names(hosts, cpus)
    feed = LineFeed(files=[], kept=[])
    span = 60 * minutes_per_file
    for k in range(files):
        lo = T0 + k * span
        out: list[str] = []
        for _ in range(lines_per_file):
            name = rng.choice(names)
            r = rng.random()
            if r < malformed_share:
                out.append(_malformed(rng, name, lo))
                feed.malformed += 1
                continue
            v = value(rng)
            if k > 1 and r < malformed_share + late_share:
                ts = T0 - 86_400 + rng.randrange(span)
                feed.late += 1
            elif k > 0 and malformed_share + late_share <= r < malformed_share + late_share + ooo_share:
                ts = lo - rng.randrange(1, 120)
                feed.kept.append((name, ts, v))
            else:
                ts = lo + rng.randrange(span)
                feed.kept.append((name, ts, v))
            out.append(f"{name} {v} {ts}")
        feed.files.append(out)
        feed.lines += len(out)
    return feed


def write_feed(feed: LineFeed, src_dir: str) -> None:
    """One file per slice. A file stream admits files in modification-time
    order, so the files get strictly increasing times a second apart."""
    os.makedirs(src_dir, exist_ok=True)
    for k, lines in enumerate(feed.files):
        path = os.path.join(src_dir, f"part-{k:04d}.txt")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, (T0 + k, T0 + k))


# -- dashboard -----------------------------------------------------------------


@dataclass
class Store:
    """The dashboard store: every series' one-minute values."""

    minutes: int
    series: dict[str, list[float]] = field(default_factory=dict)

    def rows(self) -> list[tuple[str, int, float]]:
        return [
            (name, T0 + 60 * i, v)
            for name, vals in self.series.items()
            for i, v in enumerate(vals)
        ]

    @property
    def points(self) -> int:
        return self.minutes * len(self.series)


def store(rng: random.Random, hosts: int, cpus: int, minutes: int) -> Store:
    st = Store(minutes)
    for name in cpu_names(hosts, cpus) + tagged_names(hosts):
        st.series[name] = [value(rng) for _ in range(minutes)]
    return st


# -- corpus --------------------------------------------------------------------

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "qu", "da"]
BOILERPLATE = "click here to subscribe to our weekly newsletter today"


@dataclass
class Corpus:
    docs: list[tuple[int, str, list[float]]]
    #: injected near-duplicate pairs (id_a < id_b)
    near_pairs: set[tuple[int, int]]
    #: how many documents are exact (case/whitespace) copies of another
    exact_copies: int
    #: doc ids used as similarity queries
    queries: list[int]


def corpus(
    rng: random.Random,
    *,
    docs: int,
    near_pairs: int,
    exact_copies: int,
    labels: int,
    dim: int,
    queries: int,
) -> Corpus:
    """Random-word documents with injected near-duplicates (two words
    substituted) and exact copies (case and spacing changed), plus
    label-clustered embeddings. A third of the documents end in the same
    boilerplate sentence, whose shingles the ``max_df`` cap removes."""
    vocab = sorted(
        {
            "".join(rng.choice(_SYLLABLES) for _ in range(rng.randrange(2, 5)))
            for _ in range(4000)
        }
    )
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(labels)]

    def embed(label: int) -> list[float]:
        return [c + rng.gauss(0, 0.35) for c in centers[label]]

    base = docs - near_pairs - exact_copies
    texts: list[str] = []
    labels_of: list[int] = []
    for _ in range(base):
        words = [rng.choice(vocab) for _ in range(rng.randrange(40, 80))]
        text = " ".join(words)
        if rng.random() < 1 / 3:
            text += " " + BOILERPLATE
        texts.append(text)
        labels_of.append(rng.randrange(labels))
    pairs: set[tuple[int, int]] = set()
    for _ in range(near_pairs):
        src = rng.randrange(base)
        words = texts[src].split(" ")
        for pos in rng.sample(range(len(words)), 2):
            old = words[pos]
            while words[pos] == old:
                words[pos] = rng.choice(vocab)
        pairs.add((src, len(texts)))
        texts.append(" ".join(words))
        labels_of.append(labels_of[src])
    for _ in range(exact_copies):
        src = rng.randrange(base)
        texts.append("  " + texts[src].upper().replace(" ", "   ") + " ")
        labels_of.append(labels_of[src])
    rows = [(i, t, embed(labels_of[i])) for i, t in enumerate(texts)]
    return Corpus(
        docs=rows,
        near_pairs=pairs,
        exact_copies=exact_copies,
        queries=sorted(rng.sample(range(len(rows)), queries)),
    )


def write_corpus(c: Corpus, path: str) -> None:
    ids, texts, vecs = zip(*c.docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
            }
        ),
        path,
    )
