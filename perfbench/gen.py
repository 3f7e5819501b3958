"""Seeded transcript generator for the benchmark workloads.

Writes, for one workload and one seed:

  * the transcripts table in the input-contract schema
    ``(conv_id string, turn_idx int32, role string, text string,
    tool string, ts timestamp[us])`` as one parquet file;
  * the entity dictionary ``(entity_id, surface, concept)``;
  * the gold triples ``(conv_id, turn_idx, subj, pred, obj)`` with
    canonical surfaces.

``ts`` is written as a microsecond timestamp on purpose: pandas' default
nanosecond timestamps make Spark's parquet stream reader (which the
streaming-maintenance probe drains these turns through) fail with
PARQUET_COLUMN_DATA_TYPE_MISMATCH.

Everything is drawn from ``random.Random(seed)``, so one seed always gives
byte-identical files.  The program under test receives only these files.
"""

from __future__ import annotations

import bisect
import datetime as dt
import os
import random
from dataclasses import dataclass, field
from typing import Dict, List, Sequence, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])
DICT_SCHEMA = pa.schema([
    ("entity_id", pa.string()), ("surface", pa.string()),
    ("concept", pa.string()),
])
GOLD_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("subj", pa.string()),
    ("pred", pa.string()), ("obj", pa.string()),
])

_ONSETS = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v",
           "z", "br", "dr", "gr", "kr", "pr", "tr", "st", "sl", "fl", "pl"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ei", "ou"]
_CODAS = ["", "", "n", "r", "l", "s", "m", "nd", "rt"]
_ORG_SUFFIXES = ["Corporation", "Industries", "Systems", "Holdings", "Labs"]
_LOC_SUFFIXES = ["burg", "ton", "ville", "stad", "field", "port"]

# relation sentences: (template, [(subj_slot, pred, obj_slot), ...]); the
# patterns are the pipeline's DEFAULT_PATTERNS, the gold follows from the
# template alone (no tagging run)
TEMPLATES: List[Tuple[str, List[Tuple[str, str, str]]]] = [
    ("{P} works for {O}.", [("P", "works_for", "O")]),
    ("{P} works for {O} in {L}.",
     [("P", "works_for", "O"), ("O", "located_in", "L")]),
    ("{P} met {P2} in {L}.", [("P", "met", "P2")]),
    ("{O} is based in {L}.", [("O", "located_in", "L")]),
    ("{P} visited {L} last week.", [("P", "visited", "L")]),
]
FILLER = [
    "the report was finished on time and nothing else happened.",
    "please run the pipeline again with the new settings.",
    "results look fine to me, let's ship the change tomorrow.",
    "the retry budget was exhausted twice before the cache warmed up.",
    "we should double check the numbers before the review.",
    "nothing in the logs points at a regression yet.",
]
_TOOLS = ["search", "browser", "sql", "shell"]
TURNS_PER_CONV = 10  # turns of every conversation but the hot one
_T0 = dt.datetime(2026, 1, 1)


@dataclass
class Vocab:
    """Per-type canonical surfaces, in rank order (rank 0 = most frequent)."""
    by_type: Dict[str, List[str]]

    def rows(self) -> List[Tuple[str, str, str]]:
        return [(f"{t.lower()}:{i:06d}", s, t)
                for t, names in self.by_type.items()
                for i, s in enumerate(names)]


def _word(rng: random.Random, n_syll: int) -> str:
    w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS)
                for _ in range(n_syll)) + rng.choice(_CODAS)
    return w.capitalize()


def make_vocab(rng: random.Random, n_per_type: int) -> Vocab:
    """``n_per_type`` distinct surfaces per type: PER 'First Last', ORG
    'Stem Suffix', LOC one capitalized word.  Every generated word is used
    once, so no surface is a sub-phrase of another."""
    used: set = set()

    def fresh(n_syll: int, suffixes: Sequence[str] = ("",)) -> str:
        while True:
            w = _word(rng, n_syll) + rng.choice(suffixes)
            if w not in used:
                used.add(w)
                return w

    per = [f"{fresh(2)} {fresh(3)}" for _ in range(n_per_type)]
    org = [f"{fresh(2)} {rng.choice(_ORG_SUFFIXES)}"
           for _ in range(n_per_type)]
    loc = [fresh(2, _LOC_SUFFIXES) for _ in range(n_per_type)]
    return Vocab({"PER": per, "ORG": org, "LOC": loc})


def zipf_cum(n: int, s: float = 1.1) -> List[float]:
    acc, out = 0.0, []
    for r in range(1, n + 1):
        acc += 1.0 / r ** s
        out.append(acc)
    return out


def pick(rng: random.Random, names: Sequence[str],
         cum: Sequence[float]) -> str:
    """Zipf draw: ``cum`` holds the cumulative weights of ``names``."""
    x = rng.random() * cum[-1]
    return names[bisect.bisect_left(cum, x, 0, len(names) - 1)]


def misspell(rng: random.Random, surface: str, taken: set) -> str:
    """A one-letter variant of the surface's last token (never its first
    letter), not present in ``taken`` — an alias the dictionary lacks."""
    toks = surface.split()
    last = toks[-1]
    for _ in range(50):
        i = rng.randrange(1, len(last))
        c = rng.choice("aeioulnrst")
        if c == last[i]:
            continue
        cand = " ".join(toks[:-1] + [last[:i] + c + last[i + 1:]])
        if cand not in taken:
            return cand
    return surface


@dataclass
class Turns:
    rows: List[tuple] = field(default_factory=list)
    gold: List[tuple] = field(default_factory=list)


class TurnMaker:
    """Builds turn texts and their gold triples from the vocabulary."""

    def __init__(self, rng: random.Random, vocab: Vocab, misspell_share=0.0):
        self.rng = rng
        self.vocab = vocab
        self.cum = {t: zipf_cum(len(v)) for t, v in vocab.by_type.items()}
        self.taken = {s for v in vocab.by_type.values() for s in v}
        self.misspell_share = misspell_share

    def _slots(self) -> Dict[str, str]:
        rng, v = self.rng, self.vocab.by_type

        def draw(t: str) -> str:
            return pick(rng, v[t], self.cum[t])

        slots = {"P": draw("PER"), "O": draw("ORG"), "L": draw("LOC")}
        p2 = draw("PER")
        while p2 == slots["P"]:
            p2 = draw("PER")
        slots["P2"] = p2
        return slots

    def relation_sentence(self):
        """(text, [(subj, pred, obj)]) with canonical surfaces in the gold
        and, at ``misspell_share``, a misspelled alias in the text."""
        template, rels = self.rng.choice(TEMPLATES)
        slots = self._slots()
        shown = {k: (misspell(self.rng, s, self.taken)
                     if self.rng.random() < self.misspell_share else s)
                 for k, s in slots.items()}
        text = template.format(**shown)
        return text, [(slots[a], p, slots[b]) for a, p, b in rels]

    def url(self) -> str:
        host = self.rng.choice(["docs", "wiki", "runs", "tickets"])
        return (f"https://{host}.example.com/{self.rng.choice(['p', 't'])}/"
                f"{self.rng.randrange(10 ** 5)}")

    def date(self) -> str:
        d = _T0 + dt.timedelta(days=self.rng.randrange(365))
        return (d.strftime("%Y-%m-%d") if self.rng.random() < 0.5
                else f"{d.strftime('%B')} {d.day}, {d.year}")

    def short_turn(self):
        """One sentence: a relation (5 in 6) or a lowercase filler."""
        if self.rng.random() < 1 / 6:
            return self.rng.choice(FILLER), []
        return self.relation_sentence()

    def long_turn(self, n_sentences: int):
        """``n_sentences`` sentences mixing relations, filler, URLs, dates
        and smileys; relation sentences carry several mentions each."""
        rng = self.rng
        parts, gold = [], []
        for _ in range(n_sentences):
            r = rng.random()
            if r < 0.4:
                text, g = self.relation_sentence()
                if rng.random() < 0.3:
                    text = text[:-1] + f", see {self.url()} for details."
                parts.append(text)
                gold += g
            elif r < 0.6:
                parts.append(rng.choice(FILLER))
            elif r < 0.75:
                parts.append(f"the logs are at {self.url()} if you need them.")
            elif r < 0.9:
                parts.append(f"the job last ran on {self.date()} without errors.")
            else:
                parts.append("that went better than expected :)")
        return " ".join(parts), gold


def _ts(i: int) -> dt.datetime:
    return _T0 + dt.timedelta(seconds=i, microseconds=(i * 7919) % 10 ** 6)


def _write(path: str, schema: pa.Schema, rows: Sequence[tuple]) -> None:
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table({f.name: pa.array(list(c), type=f.type)
                      for f, c in zip(schema, cols)}, schema=schema)
    pq.write_table(table, path)


def _distinct_gold(gold: List[tuple]) -> List[tuple]:
    return list(dict.fromkeys(gold))


def batch_turns(seed: int, n_turns: int, n_vocab: int, long_sentences: int = 0,
                misspell_share: float = 0.0,
                hot_share: float = 0.0) -> Tuple[Vocab, Turns]:
    """A batch transcripts table: ``hot_share`` of the turns go to one hot
    conversation, the rest to conversations of TURNS_PER_CONV turns.
    ``long_sentences`` > 0 makes multi-sentence agent/tool turns."""
    rng = random.Random(seed)
    vocab = make_vocab(rng, n_vocab)
    maker = TurnMaker(rng, vocab, misspell_share)
    out = Turns()
    n_hot = int(n_turns * hot_share)
    for i in range(n_turns):
        if i < n_hot:
            conv, idx = "conv-hot", i
        else:
            j = i - n_hot
            conv, idx = (f"conv-{j // TURNS_PER_CONV:07d}",
                         j % TURNS_PER_CONV)
        if long_sentences:
            text, g = maker.long_turn(long_sentences)
            role = "tool" if idx % 3 == 2 else "assistant"
        else:
            text, g = maker.short_turn()
            role = "user" if idx % 2 == 0 else "assistant"
        tool = rng.choice(_TOOLS) if role == "tool" else None
        out.rows.append((conv, idx, role, text, tool, _ts(i)))
        out.gold += [(conv, idx) + t for t in g]
    out.gold = _distinct_gold(out.gold)
    return vocab, out


def write_batch(out_dir: str, vocab: Vocab, turns: Turns) -> Dict[str, str]:
    """Writes ``transcripts/``, ``entity_dict/`` and ``gold/`` under
    ``out_dir``; returns their paths."""
    paths = {k: os.path.join(out_dir, k)
             for k in ("transcripts", "entity_dict", "gold")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    _write(os.path.join(paths["transcripts"], "part-00000.parquet"),
           TRANSCRIPT_SCHEMA, turns.rows)
    _write(os.path.join(paths["entity_dict"], "part-00000.parquet"),
           DICT_SCHEMA, vocab.rows())
    _write(os.path.join(paths["gold"], "part-00000.parquet"),
           GOLD_SCHEMA, turns.gold)
    return paths
