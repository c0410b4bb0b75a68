"""Seeded input generators. Nothing here touches Spark: each generator
turns a seed into plain Python rows, and the workloads hand those rows to
the program as DataFrames. The same seed always gives the same inputs.

Three input families:

* ``DocStream`` — a document stream for the dedup and BM25 workloads:
  Zipf-distributed words, seeded near-duplicate variants of earlier
  documents and corrections that re-announce an earlier id with new text.
* ``Dictionary`` — a synthetic ordbokapi dictionary over ``bm``/``nn``/
  ``no`` whose articles follow ``worker_spark.schemas.ARTICLE_DATA`` and
  the shapes of ``worker_spark.fixtures``; each ``churn`` call revises,
  adds and deletes articles upstream.
* ``queries`` — BM25 queries of 1-4 Zipf-picked words.
"""

from __future__ import annotations

import bisect
import itertools
import json
import random

_ONSETS = ["b", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "bl", "br", "dr", "fj", "fl", "gr", "kl", "kv", "sk",
           "sl", "sn", "st", "sv", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "y", "æ", "ø", "å", "ei", "au"]
_CODAS = ["", "", "n", "r", "s", "t", "k", "l", "m", "nd", "ng", "rd", "st"]


def vocabulary(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct pronounceable lower-case words."""
    words: dict[str, None] = {}
    while len(words) < n:
        syl = rng.choice((1, 2, 2, 3))
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
            for _ in range(syl)
        )
        words.setdefault(w, None)
    return list(words)


class Zipf:
    """Draws from a list with probability proportional to 1 / rank^s."""

    def __init__(self, items: list[str], s: float = 1.05):
        self.items = items
        self.cum = list(itertools.accumulate(1.0 / (r ** s) for r in range(1, len(items) + 1)))

    def draw(self, rng: random.Random, k: int) -> list[str]:
        return rng.choices(self.items, cum_weights=self.cum, k=k)

    def pick(self, rng: random.Random) -> str:
        return self.items[bisect.bisect(self.cum, rng.random() * self.cum[-1])]


# ---------------------------------------------------------------------------
# documents (dedup_ingest, bm25_serve)
# ---------------------------------------------------------------------------


DOC_VOCABULARY = 6000
DOC_TOKENS = (30, 150)  # words per document, uniform
DUP_SHARE = 0.30  # near-duplicate variants per micro-batch
CORRECTION_SHARE = 0.05  # re-announced earlier ids per micro-batch


class DocStream:
    """Seeded document stream. ``live`` holds the current text of every
    announced id, i.e. the corpus a batch recomputation must agree with."""

    def __init__(self, seed: int):
        self.rng = random.Random(f"docs:{seed}")
        self.zipf = Zipf(vocabulary(self.rng, DOC_VOCABULARY))
        self.live: dict[int, str] = {}
        self.next_id = 0

    def _fresh_text(self) -> str:
        n = self.rng.randint(*DOC_TOKENS)
        return " ".join(self.zipf.draw(self.rng, n))

    def _variant(self, text: str) -> str:
        """A near-duplicate: about 4 % of the words replaced, one dropped
        and one appended, which keeps word-3-shingle Jaccard near 0.7."""
        words = text.split()
        for _ in range(max(1, len(words) // 25)):
            words[self.rng.randrange(len(words))] = self.zipf.pick(self.rng)
        del words[self.rng.randrange(len(words))]
        words.append(self.zipf.pick(self.rng))
        return " ".join(words)

    def fresh(self, n: int) -> list[tuple[int, str]]:
        """``n`` new, unrelated documents."""
        rows = []
        for _ in range(n):
            rows.append((self.next_id, self._fresh_text()))
            self.next_id += 1
        self.live.update(rows)
        return rows

    def batch(self, n: int) -> list[tuple[int, str]]:
        """One micro-batch: near-duplicate variants of earlier documents,
        corrections of earlier ids (new text, same id) and fresh ones."""
        rows: list[tuple[int, str]] = []
        announced = list(self.live)
        for _ in range(n):
            u = self.rng.random()
            if announced and u < CORRECTION_SHARE:
                doc_id = self.rng.choice(announced)
                # half the corrections are light edits, half rewrites
                text = (self._variant(self.live[doc_id]) if self.rng.random() < 0.5
                        else self._fresh_text())
            elif announced and u < CORRECTION_SHARE + DUP_SHARE:
                doc_id = self.next_id
                self.next_id += 1
                text = self._variant(self.live[self.rng.choice(announced)])
            else:
                doc_id = self.next_id
                self.next_id += 1
                text = self._fresh_text()
            rows.append((doc_id, text))
            self.live[doc_id] = text
        return rows

    def corrections(self, n: int) -> list[tuple[int, str]]:
        """``n`` re-announcements of distinct earlier ids, mostly light
        edits, some whole rewrites."""
        ids = self.rng.sample(sorted(self.live), min(n, len(self.live)))
        rows = []
        for doc_id in ids:
            text = (self._variant(self.live[doc_id]) if self.rng.random() < 0.8
                    else self._fresh_text())
            rows.append((doc_id, text))
            self.live[doc_id] = text
        return rows


def queries(seed: int, stream: DocStream, n: int) -> list[str]:
    """``n`` queries of 1-4 words, Zipf-skewed over the corpus vocabulary,
    so posting-list sizes vary from the head words to the tail."""
    rng = random.Random(f"queries:{seed}")
    out = []
    for _ in range(n):
        k = rng.choice((1, 2, 2, 3, 3, 4))
        out.append(" ".join(dict.fromkeys(stream.zipf.draw(rng, k))))
    return out


# ---------------------------------------------------------------------------
# dictionary articles (sync_cycle)
# ---------------------------------------------------------------------------

DICTIONARIES = ("bm", "nn", "no")
# disjoint id spaces per dictionary: the link tables bucket and replace on
# article_id alone, so an id names one article across dictionaries
ID_BASE = {"bm": 1_000_000, "nn": 2_000_000, "no": 3_000_000}
N_BIBLIOGRAPHY = 400
N_PLACES = 300
UNKNOWN_REF_SHARE = 0.04
# upstream churn per sync interval, as shares of the live articles
REVISED, NEW, DELETED = 0.02, 0.005, 0.005
CONCEPTS = [("no", "norr.", "norrønt"), ("nn", "norr.", "norrønt"),
            ("bm", "norr.", "norrønt"), ("no", "lat.", "latin"),
            ("nn", "ty.", "tysk")]
_POS = [("NOUN", ["Masc"]), ("NOUN", ["Fem"]), ("NOUN", ["Neuter"]),
        ("VERB", []), ("ADJ", [])]
_FORM_TAGS = [["Sing", "Ind"], ["Sing", "Def"], ["Plur", "Ind"], ["Plur", "Def"]]


class Dictionary:
    """Upstream dictionary state: ``(dictionary, id) -> revision``, plus a
    deterministic article body for every ``(dictionary, id, revision)``."""

    def __init__(self, seed: int, n_articles: int):
        self.seed = seed
        self.rng = random.Random(f"dictionary:{seed}")
        self.words = Zipf(vocabulary(self.rng, 4000))
        self.codes = [f"Kj{i}" for i in range(N_BIBLIOGRAPHY)]
        self.revisions: dict[tuple[str, int], int] = {}
        self.next_id = {d: ID_BASE[d] + 1 for d in DICTIONARIES}
        self.per = per = n_articles // len(DICTIONARIES)
        for d in DICTIONARIES:
            for _ in range(per):
                self._add(d)

    def _add(self, d: str) -> None:
        self.revisions[(d, self.next_id[d])] = 1
        self.next_id[d] += 1

    def listing(self) -> list[tuple[str, int, int, str]]:
        """The upstream article list: (dictionary, article_id, revision,
        updated_at) for every live article."""
        return [(d, i, r, f"r{r}") for (d, i), r in self.revisions.items()]

    def churn(self) -> None:
        """One upstream interval: revise, add and delete articles."""
        keys = sorted(self.revisions)
        n = len(keys)
        picks = self.rng.sample(keys, int(n * (REVISED + DELETED)))
        n_rev = int(n * REVISED)
        for k in picks[:n_rev]:
            self.revisions[k] += 1
        for k in picks[n_rev:]:
            del self.revisions[k]
        for _ in range(int(n * NEW)):
            self._add(self.rng.choice(DICTIONARIES))

    # --- article bodies -------------------------------------------------

    def article(self, d: str, article_id: int) -> dict | None:
        """The current upstream body of an article, None if absent."""
        rev = self.revisions.get((d, article_id))
        return None if rev is None else self.article_at(d, article_id, rev)

    def article_at(self, d: str, article_id: int, rev: int) -> dict:
        rng = random.Random(f"{self.seed}:{d}:{article_id}:{rev}")
        w = self.words
        lemma = w.pick(rng) + w.pick(rng)
        pos, gender = rng.choice(_POS)
        suffixes = ["", "en", "ar", "ane"] if pos == "NOUN" else ["", "e", "te", "a"]
        lemmas = [{
            "lemma": lemma,
            "hgno": 0,
            "id": article_id * 10,
            "split_inf": pos == "VERB" and rng.random() < 0.3,
            "paradigm_info": [{
                "tags": [pos, *gender],
                "inflection": [{"word_form": lemma + s, "tags": t}
                               for s, t in zip(suffixes, _FORM_TAGS)],
            }],
        }]
        body: dict = {
            "etymology": [{
                "content": "frå $ " + w.pick(rng),
                "items": [{"type_": "language", "id": rng.choice(["norr.", "lat.", "ty."])}],
            }],
            "pronunciation": [{"content": "ˈ" + lemma}],
            "written_form": [{"forms": [{
                "written_form": lemma + "e",
                "sources": [{"bibl_id": self._bibl(rng)}],
            }]}],
            "older_source": [{"bibl_id": self._bibl(rng)}],
            "definitions": [self._definition(rng, d, article_id, depth=1)
                            for _ in range(rng.randint(1, 3))],
        }
        if d == "no":
            body["dialect"] = [{"subcats": [{"forms": [{
                "form": None,
                "form_content": lemma[:-1] + "o",
                "sources": [{"show": int(rng.random() < 0.8),
                             "place_name": f"Stad{p}", "place_id": p}
                            for p in self._places(rng, 2)],
            }]}]}]
        return {"lemmas": lemmas, "suggest": [lemma], "updated": f"r{rev}", "body": body}

    def _bibl(self, rng: random.Random) -> int:
        if rng.random() < UNKNOWN_REF_SHARE:
            return N_BIBLIOGRAPHY + 1 + rng.randrange(10_000)
        return 1 + rng.randrange(N_BIBLIOGRAPHY)

    def _places(self, rng: random.Random, k: int) -> list[int]:
        out = []
        for _ in range(k):
            if rng.random() < UNKNOWN_REF_SHARE:
                out.append(N_PLACES + 1 + rng.randrange(10_000))
            else:
                out.append(1 + rng.randrange(N_PLACES))
        return out

    def _related(self, rng: random.Random, d: str) -> int:
        """An id in the same dictionary; a few point past the initial
        range (articles added later, or unknown ones the discovery step
        turns into fetch jobs). Depends only on the article's own seed,
        so a body is the same whenever it is generated."""
        return ID_BASE[d] + 1 + rng.randrange(self.per + self.per // 20)

    def _definition(self, rng: random.Random, d: str, article_id: int, depth: int) -> dict:
        w = self.words
        quote = " ".join(w.draw(rng, rng.randint(4, 9)))
        if d == "no" and rng.random() < 0.7:
            code = rng.choice(self.codes)
            quote += f"({code} {rng.randint(1, 400)})" if rng.random() < 0.7 else f"({code})"
        example: dict = {"type_": "example", "quote": {"content": quote, "items": []}}
        if d == "no":
            example["place_refs"] = [
                {"bibl_id": self._bibl(rng), "vis": int(rng.random() < 0.7),
                 "place": {"place_id": p}}
                for p in self._places(rng, rng.randint(0, 2))
            ]
        elements = [
            {"type_": "explanation", "content": " ".join(w.draw(rng, rng.randint(3, 8)))},
            example,
        ]
        if rng.random() < 0.3:
            elements.append({"type_": "sub_article", "article_id": self._related(rng, d),
                             "lemmas": [w.pick(rng)]})
        if rng.random() < 0.2:
            example["quote"]["items"].append(
                {"type_": "article_ref", "article_id": self._related(rng, d)})
        defn = {"type_": "definition", "id": depth * 100 + rng.randrange(100),
                "elements": elements}
        if depth < 3 and rng.random() < 0.35:
            defn["sub_definitions"] = [self._definition(rng, d, article_id, depth + 1)]
        return defn

    def json_rows(self, keys) -> list[tuple[str, int, str]]:
        """(dictionary, id, data_json) for the given live keys."""
        return [(d, i, json.dumps(self.article(d, i))) for d, i in keys]

