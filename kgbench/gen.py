"""Seeded single-process corpus generator with planted ground truth.

Every workload input is produced here from ``(workload, seed)`` alone, so the
same seed always yields byte-identical parquet. Entity surfaces are planted
into filler text under three rules that make the expected pipeline output
exact rather than approximate:

* surface words never occur in the filler vocabulary, and no word belongs to
  two surfaces, so the gazetteer can only match where a surface was planted
  and matches never nest;
* two planted surfaces are always separated by at least one filler word, so
  the decoder's merging of adjacent same-type spans never fires;
* sentences are short (well under the scorer window) and start with a
  capitalised filler word, so sentence and window splitting never cut a
  surface.

The truth therefore follows from the planted lists alone: one mention per
planted occurrence, entities = distinct planted surfaces, canonical ids =
union-find over the alias pairs whose two ends both occur (component named
by its minimum member), and the triple count of the ``window_k`` rule in
``operators.predicates``.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np

# plain English filler; pseudo-word surfaces never collide with these
FILLER = (
    "the a an of to in on for with about from into over after before under "
    "we you they it this that these those our your their its there here "
    "asked said told wrote noted thought found saw made gave took sent kept "
    "moved ran held read wanted needed tried started finished checked "
    "meeting report plan team group project week month year day morning "
    "evening night budget review draft letter note question answer issue "
    "result number list price order market office city road house room "
    "water light music story idea point reason change problem system "
    "again also still just only very really quite almost often never "
    "soon later early late then now today yesterday tomorrow maybe "
    "good new old long small large great high low next last first other "
    "same different important possible free clear simple quick slow "
    "and but or so because while when where what which who how why "
    "is was are were be been has had have do did does can could will would "
    "should might must may shall not no yes some any many much more most "
    "few each every all both either neither one two three four five"
).split()

_FILLER_SET = frozenset(FILLER)
_CONSONANTS = "bdfgklmnprstvz"
_VOWELS = "aeiou"
EPOCH = dt.datetime(2025, 1, 1)


def pseudo_words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct three-syllable pseudo-words, none in FILLER."""
    syl = [c + v for c in _CONSONANTS for v in _VOWELS]
    space = len(syl) ** 3
    out: list[str] = []
    for code in rng.permutation(space):
        a, rest = divmod(int(code), len(syl) ** 2)
        b, c = divmod(rest, len(syl))
        w = syl[a] + syl[b] + syl[c]
        if w not in _FILLER_SET:
            out.append(w)
            if len(out) == n:
                return out
    raise ValueError(f"cannot draw {n} distinct pseudo-words")


@dataclass
class Turn:
    conv_id: str
    turn_idx: int
    text: str
    surfaces: list[str]  # planted normalized surfaces, in text order
    starts: list[int]  # char offset of each planted surface


@dataclass
class Vocab:
    """The first ``len(weights)`` surfaces are the head, drawn by
    ``weights``; with probability ``1 - head_share`` a draw instead picks a
    tail surface uniformly."""

    gazetteer: dict[str, str]  # normalized surface -> entity type
    aliases: list[tuple[str, str]]
    weights: np.ndarray  # popularity of the head surfaces
    head_share: float = 1.0
    surfaces: list[str] = field(init=False)
    _cdf: np.ndarray = field(init=False)

    def __post_init__(self) -> None:
        self.surfaces = list(self.gazetteer)
        self._cdf = np.cumsum(self.weights)

    def draw(self, rng: np.random.Generator, k: int) -> list[str]:
        head, n = len(self._cdf), len(self.surfaces)
        out = []
        for u, v in zip(rng.random(k), rng.random(k)):
            if head == n or u < self.head_share:
                i = min(int(np.searchsorted(self._cdf, v * self._cdf[-1], side="right")), head - 1)
            else:
                i = head + min(int(v * (n - head)), n - head - 1)
            out.append(self.surfaces[i])
        return out


def union_find_min(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """node -> minimum member of its connected component."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@dataclass
class Truth:
    """Expected pipeline output for one set of turns."""

    mentions: int
    start_sum: int
    end_sum: int
    surfaces: int
    entities: int  # distinct canonical ids
    alias_edges: int  # alias pairs with both ends present
    canonical: dict[str, str]  # present surface -> canonical id
    triples: dict[int, int]  # window_k -> triple rows
    graph_edges: int  # co-occurrence edges, both directions
    graph_nodes: int  # entities on a co-occurrence edge


def canonical_checksum(canonical: dict[str, str]) -> int:
    """Sum of CRC-32 over 'surface<TAB>canonical' lines, the same value as
    Spark's ``sum(crc32(concat_ws('\\t', surface_norm, canonical_id)))``."""
    return sum(zlib.crc32(f"{s}\t{c}".encode()) for s, c in canonical.items())


def ground_truth(
    turns: list[Turn], aliases: list[tuple[str, str]], ks: tuple[int, ...] = (2,)
) -> Truth:
    present: set[str] = set()
    start_sum = end_sum = n = 0
    for t in turns:
        for s, c0 in zip(t.surfaces, t.starts):
            present.add(s)
            start_sum += c0
            end_sum += c0 + len(s)
            n += 1
    kept = [(a, b) for a, b in aliases if a in present and b in present]
    canon = {s: s for s in present}
    canon.update(union_find_min([(a, b) for a, b in kept if a != b]))
    by_conv: dict[str, dict[int, set[str]]] = defaultdict(dict)
    for t in turns:
        if t.surfaces:
            by_conv[t.conv_id].setdefault(t.turn_idx, set()).update(
                canon[s] for s in t.surfaces
            )
    pairs: set[tuple[str, str]] = set()
    for sets in by_conv.values():
        for ents in sets.values():
            e = sorted(ents)
            pairs.update((a, b) for i, a in enumerate(e) for b in e[i + 1:])
    triples = {}
    for k in ks:
        total = 0
        for sets in by_conv.values():
            for ti, ents in sets.items():
                prev: set[str] = set()
                for j in range(1, k + 1):
                    prev |= sets.get(ti - j, set())
                m = len(ents)
                total += m * (m - 1) // 2 + m * len(prev)
        triples[k] = total
    return Truth(
        mentions=n,
        start_sum=start_sum,
        end_sum=end_sum,
        surfaces=len(present),
        entities=len(set(canon.values())),
        alias_edges=len({tuple(sorted(p)) for p in kept if p[0] != p[1]}),
        canonical=canon,
        triples=triples,
        graph_edges=2 * len(pairs),
        graph_nodes=len({x for p in pairs for x in p}),
    )


def fold_delta(before: Truth | None, after: Truth, delta: list[Turn], turns: list[Turn]) -> tuple[int, int]:
    """(delta conversations, changed surfaces) of one streaming fold, by
    the rule of ``streaming.incremental.incremental_kg_fold``: a surface
    changed when it is new or its canonical id moved; the delta
    conversations are those of the new mentions plus every conversation
    holding a changed surface."""
    old = before.canonical if before else {}
    changed = {s for s, c in after.canonical.items() if old.get(s) != c}
    convs = {t.conv_id for t in delta if t.surfaces}
    convs |= {t.conv_id for t in turns if changed.intersection(t.surfaces)}
    return len(convs), len(changed)


def compose_turn(
    rng: np.random.Generator,
    vocab: Vocab,
    conv_id: str,
    turn_idx: int,
    sentences: int,
    words_per_sentence: tuple[int, int],
    mentions_per_sentence: tuple[int, int],
    mention_share: float = 1.0,
) -> Turn:
    """Filler sentences with surfaces planted at non-adjacent word slots;
    a sentence carries surfaces with probability ``mention_share``."""
    n_words = rng.integers(words_per_sentence[0], words_per_sentence[1] + 1, size=sentences)
    # slot 0 stays filler (capitalised sentence start); planted slots are
    # odd positions, so no two are adjacent
    n_slots = n_words // 2
    k = np.minimum(
        n_slots,
        rng.integers(mentions_per_sentence[0], mentions_per_sentence[1] + 1, size=sentences),
    )
    k[rng.random(sentences) >= mention_share] = 0
    picks = iter(vocab.draw(rng, int(k.sum())))
    fill = iter(rng.integers(0, len(FILLER), size=int(n_words.sum())).tolist())
    parts: list[str] = []
    surfaces: list[str] = []
    starts: list[int] = []
    pos = 0
    for si in range(sentences):
        if k[si] == 0:
            chosen: set[int] = set()
        elif k[si] == 1:
            chosen = {1 + 2 * int(rng.integers(n_slots[si]))}
        else:
            chosen = {1 + 2 * int(j) for j in rng.choice(n_slots[si], size=k[si], replace=False)}
        for wi in range(n_words[si]):
            if si or wi:
                parts.append(" ")
                pos += 1
            word = FILLER[next(fill)]
            if wi in chosen:
                word = next(picks)
                surfaces.append(word)
                starts.append(pos)
            elif wi == 0:
                word = word.capitalize()
            parts.append(word)
            pos += len(word)
        parts.append(".")
        pos += 1
    return Turn(conv_id, turn_idx, "".join(parts), surfaces, starts)


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def write_parquet(turns: list[Turn], path: str) -> int:
    """Transcripts-contract parquet (conv_id, turn_idx, role, text, tool,
    ts); returns the file size in bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    roles = ("user", "assistant", "tool")
    n = len(turns)
    table = pa.table(
        {
            "conv_id": pa.array([t.conv_id for t in turns], pa.string()),
            "turn_idx": pa.array([t.turn_idx for t in turns], pa.int32()),
            "role": pa.array([roles[t.turn_idx % 3] for t in turns], pa.string()),
            "text": pa.array([t.text for t in turns], pa.string()),
            "tool": pa.array(
                ["search" if t.turn_idx % 3 == 2 else "" for t in turns], pa.string()
            ),
            "ts": pa.array(
                [EPOCH + dt.timedelta(minutes=i) for i in range(n)],
                pa.timestamp("us"),
            ),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def conv_lengths(rng: np.random.Generator, n_turns: int, mean: float, alpha: float) -> list[int]:
    """Heavy-tailed (Pareto) conversation lengths summing to ``n_turns``,
    truncated at 25 times the Pareto scale's mean: untruncated, one seed in
    a few put most of the corpus into one conversation, and run times then
    follow the seed more than the program."""
    out: list[int] = []
    left = n_turns
    while left > 0:
        n = max(1, int(round((rng.pareto(alpha) + 1) * mean * (alpha - 1) / alpha)))
        n = min(n, int(25 * mean), left)
        out.append(n)
        left -= n
    return out


# --- the workload corpora -----------------------------------------------------


# batch_build's alias dictionary also holds pairs over this many surfaces
# that never occur in the text: a curated dictionary larger than the
# corpus vocabulary. Its vocabulary exceeds linking.ALIAS_ISIN_LIMIT
# (10 000), so linking takes the broadcast alias join and calls
# components.connected_components (tail_ingest's three aliases take the
# driver isin + union-find path instead).
DICTIONARY_ALIAS_SURFACES = 12_000


def batch_vocab(rng: np.random.Generator, entity_types: list[str]) -> Vocab:
    """A few hundred surfaces with Zipf popularity, 30 alias pairs among
    them and a large alias dictionary of surfaces that never occur."""
    n_surf = 300
    words = pseudo_words(rng, n_surf + n_surf // 5 + DICTIONARY_ALIAS_SURFACES)
    surfaces = words[:n_surf]
    # every fifth surface is two words (the second word is unique to it)
    for i, extra in enumerate(words[n_surf:n_surf + n_surf // 5]):
        surfaces[5 * i] = surfaces[5 * i] + " " + extra
    absent = words[n_surf + n_surf // 5:]
    types = rng.choice(entity_types, size=n_surf)
    gaz = {s: str(t) for s, t in zip(surfaces, types)}
    order = rng.permutation(n_surf)
    aliases = [(surfaces[order[2 * i]], surfaces[order[2 * i + 1]]) for i in range(20)]
    aliases += [(surfaces[order[2 * i + 1]], surfaces[order[2 * i + 2]]) for i in range(20, 30)]
    aliases += list(zip(absent[0::2], absent[1::2]))
    return Vocab(gaz, aliases, zipf_weights(n_surf, 1.1))


def graph_vocab(
    rng: np.random.Generator, entity_types: list[str], n_surf: int, n_hubs: int, hub_share: float
) -> Vocab:
    """A large dictionary: a Zipf head of hub surfaces plus a uniform tail,
    with alias chains of 2..8 members covering most of it."""
    surfaces = pseudo_words(rng, n_surf)
    types = rng.choice(entity_types, size=n_surf)
    gaz = {s: str(t) for s, t in zip(surfaces, types)}
    order = rng.permutation(n_surf)
    covered = int(n_surf * 0.9)
    aliases: list[tuple[str, str]] = []
    i = 0
    while i < covered:
        chain = [surfaces[j] for j in order[i : min(i + int(rng.integers(2, 9)), covered)]]
        aliases += list(zip(chain, chain[1:]))
        i += len(chain)
    return Vocab(gaz, aliases, zipf_weights(n_hubs, 1.0), head_share=hub_share)


@dataclass
class Corpus:
    vocab: Vocab
    turns: list[Turn]  # the input of the cold build (tail_ingest: of the cold drain)
    deltas: list[list[Turn]] = field(default_factory=list)  # tail_ingest appends


def make_turns(
    rng: np.random.Generator,
    vocab: Vocab,
    n_turns: int,
    mean_conv: float,
    alpha: float,
    sentences: tuple[int, int],
    words: tuple[int, int],
    mentions: tuple[int, int],
    mention_share: float = 1.0,
    prefix: str = "c",
) -> list[Turn]:
    turns: list[Turn] = []
    for ci, length in enumerate(conv_lengths(rng, n_turns, mean_conv, alpha)):
        conv_id = f"{prefix}{ci:06d}"
        for ti in range(length):
            n_sent = int(rng.integers(sentences[0], sentences[1] + 1))
            turns.append(
                compose_turn(rng, vocab, conv_id, ti, n_sent, words, mentions, mention_share))
    return turns


def tail_deltas(
    rng: np.random.Generator, vocab: Vocab, base: list[Turn], n_deltas: int, delta_turns: int
) -> list[list[Turn]]:
    """``n_deltas`` appends of ``delta_turns`` turns each: half open new
    conversations, half continue existing ones after their last turn."""
    last: dict[str, int] = {}
    for t in base:
        last[t.conv_id] = max(last.get(t.conv_id, -1), t.turn_idx)
    deltas = []
    for di in range(n_deltas):
        delta = make_turns(rng, vocab, delta_turns // 2, 4.0, 1.5, *TAIL_TURN, prefix=f"d{di}-")
        convs = sorted(last)
        while len(delta) < delta_turns:
            conv_id = convs[int(rng.integers(len(convs)))]
            for _ in range(min(int(rng.integers(1, 4)), delta_turns - len(delta))):
                last[conv_id] += 1
                n_sent = int(rng.integers(TAIL_TURN[0][0], TAIL_TURN[0][1] + 1))
                delta.append(compose_turn(rng, vocab, conv_id, last[conv_id], n_sent, *TAIL_TURN[1:]))
        for t in delta:
            last[t.conv_id] = max(last.get(t.conv_id, -1), t.turn_idx)
        deltas.append(delta)
    return deltas


# batch_build: long turns over a few hundred surfaces, so the mention kernel
# is the one per-turn cost, and linking and connected components work on a
# few hundred nodes.
# tail_ingest: the streaming entry point pins the package's default
# gazetteer and aliases (functions.vocab.TEST_GAZETTEER / TEST_ALIASES), so
# its turns carry those surfaces; appends are a few percent of the base.
# entity_graph (not in BENCHMARK.json, see README): short mention-dense
# turns over a 10^5-surface dictionary whose alias list exceeds
# linking.ALIAS_ISIN_LIMIT, so linking takes the broadcast alias join.
WORKLOADS = ("batch_build", "tail_ingest", "entity_graph")
# sizes per workload; ``scale`` shrinks every count (tests use tiny corpora)
SIZES = {
    "batch_build": {"turns": 5000},
    "tail_ingest": {"turns": 1500, "deltas": 2, "delta_turns": 100},
    "entity_graph": {"turns": 2000, "surfaces": 100_000, "hubs": 40},
}
# tail_ingest turns: (sentences, words per sentence, surfaces per sentence,
# share of sentences that carry surfaces)
TAIL_TURN = ((2, 4), (8, 12), (1, 2), 0.7)


def generate(workload: str, seed: int, scale: float = 1.0) -> Corpus:
    from runne_contrastive_ner_spark.functions.vocab import (
        ENTITY_TYPES,
        TEST_ALIASES,
        TEST_GAZETTEER,
    )

    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    size = SIZES[workload]
    n_turns = max(8, int(size["turns"] * scale))
    if workload == "batch_build":
        vocab = batch_vocab(rng, ENTITY_TYPES)
        # 8-12 sentences a turn; a fifth of the sentences carry one surface
        return Corpus(vocab, make_turns(rng, vocab, n_turns, 12.0, 1.3, (8, 12), (12, 18), (1, 1), 0.2))
    if workload == "tail_ingest":
        # "fast table" nests "table" and is never planted ("fast" never
        # occurs in the text), so leaving it out changes no match
        gaz = {s: t for s, t in TEST_GAZETTEER.items() if s != "fast table"}
        vocab = Vocab(gaz, list(TEST_ALIASES), zipf_weights(len(gaz), 1.0))
        base = make_turns(rng, vocab, n_turns, 12.0, 1.3, *TAIL_TURN)
        delta_turns = max(4, int(size["delta_turns"] * scale))
        return Corpus(vocab, base, tail_deltas(rng, vocab, base, size["deltas"], delta_turns))
    n_surf = max(200, int(size["surfaces"] * scale))
    vocab = graph_vocab(rng, ENTITY_TYPES, n_surf, size["hubs"], 0.1)
    # one sentence a turn carrying 6-9 surfaces; long-tailed conversations
    return Corpus(vocab, make_turns(rng, vocab, n_turns, 20.0, 1.2, (1, 1), (15, 19), (6, 9)))
