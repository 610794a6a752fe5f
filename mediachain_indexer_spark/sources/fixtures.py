"""Deterministic spans-corpus generator (seed=42, pure function of its args).

The north-rule input (BASELINE.json input_hint) is an interleaved text+media
documents table:

    documents(doc_id string,
              spans array<struct<kind string, text string,
                                 media_ref string, offset int>>)

The driver's own ``documents.parquet`` is flat text, so this module
synthesizes the spans-shaped corpus with *planted* duplicate clusters —
mirroring the labeled copy-detection datasets the reference evaluates
against (``mediachain/indexer/mc_eval.py`` / ``mc_datasets.py``):

- entity = canonical (title, artist, media refs); cluster sizes drawn from a
  seeded heavy-tail distribution (many singletons, a few big clusters →
  exercises skew salting + the size cap);
- duplicate docs = perturbations of the canonical record: case/whitespace/
  punctuation changes, typos (edit distance ≤ 2), token reorder, and ≤ 2 bit
  flips on the 64-bit perceptual hash embedded in ``media_ref``;
- hard negatives = near-miss entities sharing tokens/artist with an existing
  entity but carrying a different media hash — these make F1 ≥ 0.99
  non-trivial;
- ``media_ref`` format ``m:<16-hex>`` embeds the pHash stand-in directly so
  bit-flip perturbations have Hamming locality (a real imagehash pHash would;
  an avalanche hash of the ref string would not).

Everything is a pure function of (n_docs, seed): no wall clock, no unseeded
randomness, stable across processes.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42

# Vocabulary size matters: with a ~30-word vocab, a 500k-doc corpus plants
# thousands of DISTINCT entities with near-identical titles, flooding the
# text-LSH bands with legit-looking junk collisions no real catalog has.
# Words are generated deterministically from syllables → ~1,700 distinct
# adjectives/nouns and ~900 names, so cross-entity title collisions occur
# at realistic rates while planted near-miss negatives stay in control.
def _mk_vocab(prefixes: str, cores: str, suffixes: str) -> list[str]:
    return [
        p + c + s
        for p in prefixes.split()
        for c in cores.split()
        for s in suffixes.split()
    ]


_ADJ = _mk_vocab(
    "gol sil cri az em mis sto ra qu ve du ho sa lo pa",
    "den ver m ure ld ty rm di et lv sk llo cr ne le",
    "ish ing ed en ous al ic ary",
)[:1700]
_NOUN = _mk_vocab(
    "riv moun har for sky mir lan hor gar sha em can mea is tem",
    "er tain bor est line ror tern izon den dow ber yon dow land ple",
    "s ia on ine ery et ium ade",
)[:1700]
_FIRST = _mk_vocab(
    "ad br car dmi el fe gre hu ir jo ka li ma ni oo",
    "a uno la tri ena lix ta go is nas tya am ra kolai na",
    " e o",
)[:900]
_LAST = _mk_vocab(
    "alme berg caste duar eriks fonta grima hal iva jan kowal lind mor nov oka",
    "ida man llan te son ine ldi ler nov sen ski gren eau ak for",
    " sson ez berg",
)[:900]

_PUNCT_VARIANTS = [" - ", " — ", ": ", " / ", ", "]


@dataclass
class Entity:
    entity_idx: int
    title: str
    artist: str
    phashes: list[int]  # 64-bit canonical perceptual hashes
    near_miss_of: int | None = None  # entity_idx this one is a hard negative for
    doc_ids: list[str] = field(default_factory=list)


@dataclass
class Corpus:
    """In-memory corpus: documents (spans rows), labels, golden clusters."""

    docs: list[tuple[str, list[tuple[str, str | None, str | None, int]]]]
    labeled_pairs: list[tuple[str, str, bool]]
    expected_clusters: list[tuple[str, str]]  # (doc_id, entity_id=min doc_id)
    entities: list[Entity]


def _mk_title(rng: random.Random) -> str:
    n = rng.randint(2, 4)
    words = [rng.choice(_ADJ if i % 2 == 0 else _NOUN) for i in range(n)]
    return " ".join(words)


def _mk_artist(rng: random.Random) -> str:
    return f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"


def _mk_phash(rng: random.Random) -> int:
    return rng.getrandbits(64)


def _flip_bits(h: int, n_bits: int, rng: random.Random) -> int:
    for _ in range(n_bits):
        h ^= 1 << rng.randrange(64)
    return h


def media_ref_of(phash: int) -> str:
    return f"m:{phash & 0xFFFFFFFFFFFFFFFF:016x}"


def _typo(s: str, rng: random.Random, max_edits: int = 2) -> str:
    """Apply ≤ max_edits single-char edits, never touching the first char."""
    s = list(s)
    for _ in range(rng.randint(1, max_edits)):
        if len(s) < 3:
            break
        i = rng.randrange(1, len(s))
        op = rng.choice(("sub", "del", "ins", "swap"))
        if op == "sub":
            s[i] = rng.choice("abcdefghijklmnopqrstuvwxyz")
        elif op == "del":
            del s[i]
        elif op == "ins":
            s.insert(i, rng.choice("abcdefghijklmnopqrstuvwxyz"))
        elif op == "swap" and i + 1 < len(s):
            s[i], s[i + 1] = s[i + 1], s[i]
    return "".join(s)


def _perturb_text(title: str, artist: str, rng: random.Random) -> tuple[str, str]:
    """One duplicate-doc rendition of (title, artist)."""
    t, a = title, artist
    mode = rng.randrange(6)
    if mode == 0:  # canonical-ish, case change
        t = t.title()
    elif mode == 1:  # uppercase + extra whitespace
        t = "  " + t.upper() + " "
        a = a.upper()
    elif mode == 2:  # punctuation decoration
        t = t.replace(" ", rng.choice([" ", "  "])) + rng.choice(["!", ".", ""])
    elif mode == 3:  # typo in the title (edit distance ≤ 2)
        t = _typo(t, rng)
    elif mode == 4:  # typo in the artist
        a = _typo(a, rng)
    # mode 5: verbatim
    return t, a


def _doc_spans(
    title: str,
    artist: str,
    phashes: list[int],
    rng: random.Random,
) -> list[tuple[str, str | None, str | None, int]]:
    """Interleave 1–6 text/media spans; offsets contiguous from 0.

    Text layout varies per doc (single combined span vs separate title/artist
    spans, either order, varied separator) but the *content tokens* stay
    within edit-distance bounds of the canonical record.
    """
    sep = rng.choice(_PUNCT_VARIANTS)
    if rng.random() < 0.5:
        text_spans = [f"{title}{sep}{artist}"]
    elif rng.random() < 0.5:
        text_spans = [f"{artist}{sep}{title}"]  # token reorder variant
    else:
        text_spans = [title, artist]
    media_spans = [media_ref_of(h) for h in phashes]

    # interleave deterministically-shuffled
    items: list[tuple[str, str | None, str | None]] = [
        ("text", t, None) for t in text_spans
    ] + [("media", None, m) for m in media_spans]
    rng.shuffle(items)
    return [(k, t, m, i) for i, (k, t, m) in enumerate(items)]


def _cluster_size(rng: random.Random, max_size: int) -> int:
    """Heavy-tailed (Pareto) cluster size ≥ 1; a few large clusters → skew."""
    return min(max_size, 1 + int(rng.paretovariate(1.6)) - 1 + rng.randrange(2))


def generate_corpus(
    n_docs: int,
    seed: int = SEED,
    near_miss_rate: float = 0.25,
    max_cluster_size: int = 64,
    media_flip_bits: int = 2,
) -> Corpus:
    """Deterministically plant entities + duplicates + hard negatives."""
    rng = random.Random(seed)
    entities: list[Entity] = []
    planned: list[tuple[int, int]] = []  # (entity_idx, n_dup_docs)
    total = 0
    while total < n_docs:
        e = Entity(
            entity_idx=len(entities),
            title=_mk_title(rng),
            artist=_mk_artist(rng),
            phashes=[_mk_phash(rng) for _ in range(rng.randint(1, 2))],
        )
        size = _cluster_size(rng, max_cluster_size)
        size = min(size, n_docs - total)
        entities.append(e)
        planned.append((e.entity_idx, size))
        total += size
        # hard negative: near-miss entity sharing artist or most title tokens
        if rng.random() < near_miss_rate and total < n_docs:
            words = e.title.split()
            words[rng.randrange(len(words))] = rng.choice(
                _ADJ if rng.random() < 0.5 else _NOUN
            )
            nm = Entity(
                entity_idx=len(entities),
                title=" ".join(words),
                artist=e.artist if rng.random() < 0.5 else _mk_artist(rng),
                phashes=[_mk_phash(rng)],
                near_miss_of=e.entity_idx,
            )
            nm_size = min(rng.randint(1, 2), n_docs - total)
            entities.append(nm)
            planned.append((nm.entity_idx, nm_size))
            total += nm_size

    # materialize docs (entity order), then shuffle before assigning doc ids
    raw_docs: list[tuple[int, list[tuple[str, str | None, str | None, int]]]] = []
    for entity_idx, size in planned:
        e = entities[entity_idx]
        for j in range(size):
            # arithmetic seed: tuple/str __hash__ is process-salted, this isn't
            doc_rng = random.Random(seed * 1_000_003 + entity_idx * 1009 + j)
            if j == 0:
                t, a = e.title, e.artist
                ph = list(e.phashes)
            else:
                t, a = _perturb_text(e.title, e.artist, doc_rng)
                ph = [
                    _flip_bits(h, doc_rng.randint(0, media_flip_bits), doc_rng)
                    for h in e.phashes
                ]
            raw_docs.append((entity_idx, _doc_spans(t, a, ph, doc_rng)))

    rng.shuffle(raw_docs)
    width = max(6, len(str(len(raw_docs))))
    docs: list[tuple[str, list[tuple[str, str | None, str | None, int]]]] = []
    for i, (entity_idx, spans) in enumerate(raw_docs):
        doc_id = f"d{i:0{width}d}"
        entities[entity_idx].doc_ids.append(doc_id)
        docs.append((doc_id, spans))

    # labels: all positive pairs within clusters; negatives = near-miss pairs
    # plus seeded random cross-entity pairs
    labeled: list[tuple[str, str, bool]] = []
    for e in entities:
        ids = sorted(e.doc_ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                labeled.append((ids[i], ids[j], True))
        if e.near_miss_of is not None:
            for a in e.doc_ids:
                for b in entities[e.near_miss_of].doc_ids:
                    lo, hi = min(a, b), max(a, b)
                    labeled.append((lo, hi, False))
    n_random_neg = min(len(labeled), n_docs)
    for _ in range(n_random_neg):
        ea, eb = rng.sample(range(len(entities)), 2)
        if not entities[ea].doc_ids or not entities[eb].doc_ids:
            continue
        a = rng.choice(entities[ea].doc_ids)
        b = rng.choice(entities[eb].doc_ids)
        lo, hi = min(a, b), max(a, b)
        labeled.append((lo, hi, False))
    labeled = sorted(set(labeled))

    expected = [
        (d, min(e.doc_ids)) for e in entities if e.doc_ids for d in e.doc_ids
    ]
    expected.sort()
    return Corpus(docs, labeled, expected, entities)


# ---------------------------------------------------------------------------
# Arrow / parquet materialization
# ---------------------------------------------------------------------------

_SPAN_ARROW = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)


def corpus_to_arrow(corpus: Corpus) -> dict[str, pa.Table]:
    docs_tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _ in corpus.docs], pa.string()),
            "spans": pa.array(
                [
                    [
                        {"kind": k, "text": t, "media_ref": m, "offset": o}
                        for (k, t, m, o) in spans
                    ]
                    for _, spans in corpus.docs
                ],
                pa.list_(_SPAN_ARROW),
            ),
        }
    )
    labels_tbl = pa.table(
        {
            "doc_a": pa.array([a for a, _, _ in corpus.labeled_pairs], pa.string()),
            "doc_b": pa.array([b for _, b, _ in corpus.labeled_pairs], pa.string()),
            "is_match": pa.array(
                [m for _, _, m in corpus.labeled_pairs], pa.bool_()
            ),
        }
    )
    clusters_tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _ in corpus.expected_clusters], pa.string()),
            "entity_id": pa.array(
                [e for _, e in corpus.expected_clusters], pa.string()
            ),
        }
    )
    return {
        "spans_documents": docs_tbl,
        "labeled_pairs": labels_tbl,
        "expected_clusters": clusters_tbl,
    }


def write_corpus(
    out_dir: str, n_docs: int, seed: int = SEED, rows_per_file: int | None = None
) -> dict[str, str]:
    """Materialize the corpus as parquet; idempotent via a done-marker.

    The documents table is written as MULTIPLE part files (directory layout,
    like any real warehouse table) — a single parquet file would give Spark
    one input partition and serialize every narrow stage up to the first
    shuffle, which is exactly the scaling artifact the bench must not have.
    """
    if rows_per_file is None:
        # ≥64 part files above 16k docs → narrow stages can use every core
        rows_per_file = max(256, n_docs // 64)
    marker = os.path.join(out_dir, f".done-{n_docs}-{seed}-v3-{rows_per_file}")
    paths = {
        name: os.path.join(out_dir, f"{name}.parquet")
        for name in ("spans_documents", "labeled_pairs", "expected_clusters")
    }
    if os.path.exists(marker):
        return paths
    os.makedirs(out_dir, exist_ok=True)
    tables = corpus_to_arrow(generate_corpus(n_docs, seed))
    for name, tbl in tables.items():
        path = paths[name]
        if name == "spans_documents" and tbl.num_rows > rows_per_file:
            if os.path.exists(path) and not os.path.isdir(path):
                os.remove(path)
            os.makedirs(path, exist_ok=True)
            n_files = (tbl.num_rows + rows_per_file - 1) // rows_per_file
            for i in range(n_files):
                chunk = tbl.slice(i * rows_per_file, rows_per_file)
                pq.write_table(
                    chunk, os.path.join(path, f"part-{i:05d}.parquet")
                )
        else:
            pq.write_table(tbl, path)
    with open(marker, "w") as f:
        f.write("ok\n")
    return paths
