"""Seeded input generators for the benchmark workloads, with their planted truth.

Nothing here imports the program: a change to ``minimel_spark`` cannot reshape
the inputs it is measured on. Every generator is a pure function of its seed.

- ``er_pages``: the crawl world of the program's synthetic fixture (a
  40-family title index, one 12-homonym hot family, 70 % own-family links,
  decoration traps), re-implemented draw for draw, plus the entity each link
  surface refers to.
- ``dup_docs``: seeded crawl documents plus re-crawled snapshots, a share of
  which carry small word edits, plus the planted (original, snapshot) pairs.
"""

from __future__ import annotations

import datetime
import random
import re

SYLLABLES = [
    "ac", "bel", "cor", "dan", "el", "far", "gol", "hul", "in", "jor",
    "kel", "lum", "mar", "nor", "os", "pel", "quil", "ros", "sol", "tor",
]
TRAP_DECOR = [("", ""), ("“", "”"), ("", "&nbsp;"), ("", " (company)")]
VARIANT_SUFFIXES = ["", " corp", " corporation", " co", " inc", " group"]
N_BASES, HOMONYMS, HOT_HOMONYMS = 40, 3, 12
# near-duplicate world: sites (each with its own footer), the share of
# originals that get a re-crawled snapshot, the share of snapshots edited
N_SITES, RECRAWL_SHARE, EDIT_SHARE = 50, 0.3, 0.5
SHINGLE_N = 3


def base_name(b: int) -> str:
    s = SYLLABLES[b % 20] + SYLLABLES[(b // 20) % 20]
    return s + SYLLABLES[b % 7] if b >= 400 else s


def entity_title(b: int, k: int) -> str:
    name = base_name(b).capitalize()
    return f"{name}_({k})" if k else name


def entities() -> list[tuple[int, int, int, str]]:
    """(base, k, qid, title); base 0 is the hot family."""
    return [
        (b, k, 100000 + b * 100 + k, entity_title(b, k))
        for b in range(N_BASES)
        for k in range(HOT_HOMONYMS if b == 0 else HOMONYMS)
    ]


def title_index_rows() -> list[tuple[str, int]]:
    return [(t, q) for _, _, q, t in entities()]


def _er_page(pid: int, seed: int, ents: list) -> tuple[tuple, list]:
    """One page and its planted links: ``[(paragraph_no, base word, qid)]``,
    numbered over the paragraphs that carry text (junk rows excluded)."""
    rng = random.Random(seed * 1_000_003 + pid)
    b, _, _, title = ents[pid % len(ents)]
    paragraphs, links = [], []
    for par_no in range(rng.randint(2, 5)):
        words = []
        for _ in range(rng.randint(1, 4)):
            if rng.random() < 0.7:
                ob, ok = b, rng.randrange(HOMONYMS if b else HOT_HOMONYMS)
            else:
                o = ents[rng.randrange(len(ents))]
                ob, ok = o[0], o[1]
            surface = base_name(ob) + VARIANT_SUFFIXES[rng.randrange(len(VARIANT_SUFFIXES))]
            pre, post = (
                TRAP_DECOR[rng.randrange(len(TRAP_DECOR))] if rng.random() < 0.15 else ("", "")
            )
            words.append(f"[[{entity_title(ob, ok)}|{pre}{surface}{post}]]")
            links.append((par_no, base_name(ob), 100000 + ob * 100 + ok))
            words.extend(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 6)))
        if rng.random() < 0.1:
            words.append("[[1984]]")
        paragraphs.append(" ".join(words))
    if rng.random() < 0.2:
        paragraphs.insert(rng.randrange(len(paragraphs)), "{{infobox | junk=1}}")
    if rng.random() < 0.1:
        paragraphs.append("| table row junk")
    text = "\n\n".join(paragraphs)
    url = f"https://example.org/wiki/{title}?p={pid}"
    ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=pid % 86400)
    lang = ["en", "en", "en", "nl", "es"][pid % 5]
    return (url, ts, text.encode("utf-8"), text, lang), links


def er_pages(n_pages: int, seed: int) -> tuple[list[tuple], dict[str, list]]:
    """Pages ``(url, warc_ts, html, text, lang)`` and, per url, the planted
    links in reading order."""
    ents = entities()
    pages, truth = [], {}
    for pid in range(n_pages):
        page, links = _er_page(pid, seed, ents)
        pages.append(page)
        truth[page[0]] = links
    return pages, truth


_WORD = re.compile(r"[a-z0-9]+")


def dup_docs(n_docs: int, seed: int) -> tuple[list[tuple[int, str]], set[tuple[int, int]]]:
    """Crawl documents ``(doc_id, text)`` and the planted near-duplicate pairs.

    Each original draws 60-120 body words from a ~16k-word vocabulary and ends
    with its site's 20-word footer, so two pages of one site share a few
    shingles (Jaccard ~0.1: LSH proposes some of them and verification must
    reject them) while pages of different sites share almost none. A
    ``RECRAWL_SHARE`` of the originals gets a snapshot with a new doc id;
    ``EDIT_SHARE`` of the snapshots replace one or two body words, which keeps
    their Jaccard similarity to the original above 0.8."""
    rng = random.Random(seed)
    vocab = sorted({
        "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4)))
        for _ in range(30_000)
    })
    footers = [[rng.choice(vocab) for _ in range(20)] for _ in range(N_SITES)]
    docs, planted, bodies = [], set(), []
    for i in range(n_docs):
        body = [rng.choice(vocab) for _ in range(rng.randint(60, 120))]
        footer = footers[rng.randrange(N_SITES)]
        bodies.append((body, footer))
        docs.append((i, " ".join(body + footer)))
    next_id = n_docs
    for i, (body, footer) in enumerate(bodies):
        if rng.random() >= RECRAWL_SHARE:
            continue
        snap = list(body)
        if rng.random() < EDIT_SHARE:
            for _ in range(rng.randint(1, 2)):
                snap[rng.randrange(len(snap))] = rng.choice(vocab)
        docs.append((next_id, " ".join(snap + footer)))
        planted.add((i, next_id))
        next_id += 1
    return docs, planted


def shingles(text: str) -> frozenset[str]:
    """Word ``SHINGLE_N``-gram shingles: lowercase, split on non-word characters."""
    words = _WORD.findall(text.lower())
    return frozenset(
        " ".join(words[i:i + SHINGLE_N]) for i in range(len(words) - SHINGLE_N + 1)
    )
