"""Seeded input generators for the benchmark workloads.

Both corpora follow the planted-duplicate recipe of
``imdedup_plus_spark/fixtures.py`` (each base page has an original and two
near-dup variants carrying four planted 8-word phrases, 20% of bases also
have an exact copy, ``n_base // 2`` distractors, and pages of one site share
a header/footer), but every random draw comes from one ``random.Random``
seeded by the workload seed, so the same seed gives the same bytes and a
different seed a different corpus. Page lengths and the exact-copy count
are fixed multisets in seeded order, so seeds differ in content, not in the
amount of work. The program under test only ever sees
the written files; the ground truth stays with the benchmark.

Pure Python + pyarrow: no Spark session is needed to build the inputs, so
generation is kept out of the measured set-up time.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

#: bump when the generated bytes change for a given seed (invalidates caches)
GEN_VERSION = 2

VOCAB_SIZE = 5000
N_PHRASES = 16
PHRASE_LEN = 8
K_EDITS = 4
EXACT_DUP_FRACTION = 0.2
SITE_SIZE = 50
BOILER_WORDS = 12
BINARY_FRACTION = 0.02
N_PARQUET_FILES = 8
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


@dataclass
class Truth:
    """Planted ground truth: ``group[name]`` is the base id of a planted
    duplicate group (-1 for a distractor), ``variant[name]`` 0 = original,
    1/2 = near-dup variant, 3 = exact copy; ``tokens[name]`` is the
    whitespace token count (-1 for binary payloads)."""

    group: dict[str, int] = field(default_factory=dict)
    variant: dict[str, int] = field(default_factory=dict)
    tokens: dict[str, int] = field(default_factory=dict)

    def add(self, name: str, group: int, variant: int, tokens: int) -> None:
        self.group[name] = group
        self.variant[name] = variant
        self.tokens[name] = tokens

    def properties(self) -> dict[str, float]:
        """The input properties the pipeline's work depends on."""
        n = len(self.group)
        texts = [t for t in self.tokens.values() if t >= 0]
        return {
            "docs": n,
            "near_dup_share": sum(v in (1, 2) for v in self.variant.values()) / n,
            "exact_dup_share": sum(v == 3 for v in self.variant.values()) / n,
            "mean_tokens": sum(texts) / max(len(texts), 1),
        }

    def to_json(self) -> dict:
        return {"group": self.group, "variant": self.variant, "tokens": self.tokens}

    @classmethod
    def from_json(cls, d: dict) -> "Truth":
        return cls(d["group"], d["variant"], d["tokens"])


class _Words:
    """Every word list of one corpus, drawn from a single seeded stream."""

    def __init__(self, seed: int, tag: str, n_base: int) -> None:
        self.rng = random.Random(f"{tag}:{seed}")
        self.n_sites = n_base // SITE_SIZE + 1
        self.boiler = [
            (
                [f"hdr{s}_{self.rng.randrange(VOCAB_SIZE)}" for _ in range(BOILER_WORDS)],
                [f"ftr{s}_{self.rng.randrange(VOCAB_SIZE)}" for _ in range(BOILER_WORDS)],
            )
            for s in range(self.n_sites)
        ]
        self.phrases = [
            [f"wm{j}_{self.rng.randrange(VOCAB_SIZE)}" for _ in range(PHRASE_LEN)]
            for j in range(N_PHRASES)
        ]

    def lengths(self, n: int, lo: int, hi: int) -> list[int]:
        """``n`` lengths spread evenly over [lo, hi], in seeded order: the
        seed moves content, not the amount of work."""
        out = [lo + (hi - lo) * (2 * i + 1) // (2 * n) for i in range(n)]
        self.rng.shuffle(out)
        return out

    def base_body(self, n_words: int) -> list[str]:
        rng = self.rng
        # Zipf-ish: quadratic skew toward small word ids
        return [f"w{int(VOCAB_SIZE * rng.random() ** 2)}" for _ in range(n_words)]

    def variant_body(self, body: list[str]) -> list[str]:
        out = list(body)
        k = min(K_EDITS, len(body) + 1)
        for off in sorted(self.rng.sample(range(len(body) + 1), k), reverse=True):
            out[off:off] = self.phrases[self.rng.randrange(N_PHRASES)]
        return out

    def distractor_body(self, d: int, n_words: int) -> list[str]:
        rng = self.rng
        return [f"d{d}_w{rng.randrange(VOCAB_SIZE)}" for _ in range(n_words)]

    def page(self, site: int, body: list[str]) -> list[str]:
        header, footer = self.boiler[site]
        return header + body + footer

    def units(self, n_base: int):
        """Yield ``(site, group, variant, words)`` for every page, bases
        first; callers shuffle the output order."""
        base_len = self.lengths(n_base, 50, 400)
        exact = set(self.rng.sample(range(n_base), round(n_base * EXACT_DUP_FRACTION)))
        for b in range(n_base):
            site = b % self.n_sites
            body = self.base_body(base_len[b])
            for v in (0, 1, 2) + ((3,) if b in exact else ()):
                words = body if v in (0, 3) else self.variant_body(body)
                yield site, b, v, self.page(site, words)
        n_distract = n_base // 2
        for d, n_words in enumerate(self.lengths(n_distract, 50, 200)):
            site = (n_base + d) % self.n_sites
            yield site, -1, 0, self.page(site, self.distractor_body(d, n_words))


def crawl_rows(seed: int, n_base: int) -> tuple[list[dict], Truth]:
    """Documents in the ``input_hint`` shape (url, warc_ts, html, text, lang)."""
    w = _Words(seed, "crawl", n_base)
    units = list(w.units(n_base))
    order = list(range(len(units)))
    w.rng.shuffle(order)
    rows, truth = [], Truth()
    for p, i in enumerate(order):
        site, group, variant, words = units[i]
        text = " ".join(words)
        url = f"https://site{site:04d}.example/page/{p:06d}"
        lang = "en" if w.rng.random() < 0.95 else w.rng.choice(("de", "fr"))
        rows.append({
            "url": url,
            "warc_ts": EPOCH + timedelta(seconds=37 * p),
            "html": (
                f"<html><head><title>site{site:04d}</title></head>"
                f"<body><p>{text}</p></body></html>"
            ).encode("utf-8"),
            "text": text,
            "lang": lang,
        })
        truth.add(url, group, variant, len(words))
    return rows, truth


def write_crawl(path: str, seed: int, n_base: int) -> Truth:
    """Write the crawl corpus as ``N_PARQUET_FILES`` parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows, truth = crawl_rows(seed, n_base)
    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    os.makedirs(path)
    step = -(-len(rows) // N_PARQUET_FILES)
    for k in range(N_PARQUET_FILES):
        part = rows[k * step:(k + 1) * step]
        pq.write_table(
            pa.Table.from_pylist(part, schema=schema),
            os.path.join(path, f"part-{k:02d}.parquet"),
        )
    return truth


def dir_files(seed: int, n_base: int) -> tuple[dict[str, bytes], Truth]:
    """A directory of text files (one subdirectory per site, lines of 12
    words) plus a few unique binary blobs."""
    w = _Words(seed, "dir", n_base)
    units = list(w.units(n_base))
    n_bin = max(1, int(len(units) * BINARY_FRACTION))
    blob_len = w.lengths(n_bin, 200, 2000)
    order = list(range(len(units) + n_bin))
    w.rng.shuffle(order)
    files, truth = {}, Truth()
    for p, i in enumerate(order):
        if i >= len(units):
            name = f"d{i % w.n_sites:03d}/blob{p:05d}.bin"
            files[name] = w.rng.randbytes(blob_len[i - len(units)])
            truth.add(name, -1, 0, -1)
            continue
        site, group, variant, words = units[i]
        name = f"d{site:03d}/f{p:05d}.txt"
        lines = [" ".join(words[k:k + 12]) for k in range(0, len(words), 12)]
        files[name] = ("\n".join(lines) + "\n").encode("utf-8")
        truth.add(name, group, variant, len(words))
    return files, truth


def write_dir(path: str, seed: int, n_base: int) -> Truth:
    files, truth = dir_files(seed, n_base)
    for name, payload in files.items():
        dest = os.path.join(path, name)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        with open(dest, "wb") as fh:
            fh.write(payload)
    return truth


def tree_hash(path: str) -> str:
    """sha256 over every file's relative name and bytes, in name order."""
    h = hashlib.sha256()
    for dp, dn, fn in sorted(os.walk(path)):
        dn.sort()
        for f in sorted(fn):
            full = os.path.join(dp, f)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def cached(cache_root: str, kind: str, seed: int, n_base: int) -> tuple[str, Truth, str]:
    """Return ``(input_path, truth, corpus_hash)``, generating on first use.

    The cache key carries the generator version, workload kind, size and
    seed; a directory is only visible once complete (write-then-rename).
    """
    key = f"{kind}-v{GEN_VERSION}-n{n_base}-s{seed}"
    root = os.path.join(cache_root, key)
    meta = os.path.join(root, "meta.json")
    if not os.path.exists(meta):
        tmp = f"{root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        writer = write_crawl if kind == "crawl" else write_dir
        truth = writer(os.path.join(tmp, "input"), seed, n_base)
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump({
                "truth": truth.to_json(),
                "corpus_hash": tree_hash(os.path.join(tmp, "input")),
            }, fh)
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
    with open(meta) as fh:
        m = json.load(fh)
    return os.path.join(root, "input"), Truth.from_json(m["truth"]), m["corpus_hash"]
