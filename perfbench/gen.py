"""Seeded input generators for the benchmark.

The benchmark owns its inputs: every table here is a pure function of the
seed, so no change to the package (``music_dedupe_spark/fixtures.py``
included) can move what is measured.

``files_corpus`` builds the engine's ``files(repo, path, commit, lang,
content)`` table with the FIXTURES.md duplicate classes (re-vendored copy,
near-duplicate, renamed copy), hot-name blocks of distinct files larger
than the pipeline's ``block_cap`` (the salted and capped blocking paths),
and near-duplicate chains whose members match only their neighbours (the
number of connected-components rounds grows with chain length). It also
returns the ground truth: labeled pairs and the expected entity of every
eligible row.

``documents_table`` builds a ``documents(doc_id, text, lang, source,
n_chars)`` table shaped like the sf0.1 ``documents`` test table, with planted exact
and near-duplicate documents.
"""

from __future__ import annotations

import hashlib
import itertools
import random
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

KEYWORDS = (
    "def return if else for while import class new static void int const "
    "let function include struct public private final try catch raise"
).split()
LANG_EXT = {"py": "py", "java": "java", "c": "c", "js": "js"}
HOT_STEMS = ["main", "utils", "index", "__init__"]
JUNK_NAMES = ["README.bak", ".DS_Store", "notes.tmp", "debug.log"]


def file_id(repo: str, path: str, commit: str) -> str:
    """The engine's public row id (ingest derives the same value)."""
    return hashlib.sha256("\x1f".join((repo, path, commit)).encode()).hexdigest()[:32]


@dataclass
class FilesCorpus:
    files: pd.DataFrame  # repo, path, commit, lang, content (junk rows included)
    roles: list[str]  # per row: single, original, copy, hot, chain or junk
    labeled_pairs: list[tuple[str, str, bool]]  # (left_id, right_id, is_duplicate)
    truth: dict[str, str]  # eligible file_id -> expected entity_id (min member id)
    stats: dict = field(default_factory=dict)


def _idents(tag: str, n: int) -> list[str]:
    return [f"{tag}_{k}" for k in range(n)]


def _content(rng: random.Random, idents: list[str], n_tokens: int) -> str:
    """Keyword/identifier lines; the identifiers are unique to one file, so
    token sets of unrelated files overlap only on the keywords."""
    lines, line = [], []
    for _ in range(n_tokens):
        line.append(rng.choice(KEYWORDS) if rng.random() < 0.3 else rng.choice(idents))
        if len(line) >= rng.randint(3, 9):
            lines.append(" ".join(line))
            line = []
    if line:
        lines.append(" ".join(line))
    return "\n".join(lines)


def _drift(rng: random.Random, content: str, tag: str, share: float) -> str:
    """Replace ``share`` of the distinct identifiers with new ones (one
    chain step): neighbours keep token Jaccard ~0.65, members two or more
    steps apart fall below the scorer's 0.5 floor."""
    toks = sorted({t for t in content.split() if t not in KEYWORDS})
    swap = {t: f"{tag}_{k}" for k, t in enumerate(rng.sample(toks, max(1, int(len(toks) * share))))}
    return "\n".join(" ".join(swap.get(t, t) for t in line.split()) for line in content.split("\n"))


def files_corpus(
    seed: int,
    n_base: int = 300,
    n_classes: int = 80,
    n_hot_blocks: int = 2,
    hot_block_size: int = 80,
    n_chains: int = 5,
    chain_len: int = 16,
    n_junk: int = 20,
) -> FilesCorpus:
    rng = random.Random(seed)
    rows: list[dict] = []
    groups: list[list[str]] = []  # true entities with more than one member
    negatives: list[tuple[str, str]] = []
    stems: set[str] = set(HOT_STEMS)

    def add(repo: str, path: str, lang: str, content: str, role: str) -> str:
        commit = hashlib.sha1(f"{seed}:{len(rows)}:{path}".encode()).hexdigest()
        rows.append({"repo": repo, "path": path, "commit": commit, "lang": lang,
                     "content": content, "_role": role})
        return file_id(repo, path, commit)

    def repo(i: int) -> str:
        return f"org-{i % 41:04d}/proj-{i % 13}"

    def stem(i: int) -> str:
        s = f"{rng.choice(['util', 'parse', 'core', 'model', 'handler', 'sched'])}_{rng.choice(['math', 'cfg', 'net', 'db', 'fmt', 'log'])}_{i}"
        while s in stems:
            s += "x"
        stems.add(s)
        return s

    def fresh(i: int, n_tokens: int) -> str:
        return _content(rng, _idents(f"s{seed}f{i}", max(24, n_tokens // 4)), n_tokens)

    def spread(k: int, lo: int, hi: int) -> list[int]:
        """k values evenly covering [lo, hi] in seeded order: the seed moves
        which file gets which size, never the size distribution."""
        vals = [lo + (hi - lo) * j // max(k - 1, 1) for j in range(k)]
        rng.shuffle(vals)
        return vals

    langs = list(LANG_EXT)
    n = 0
    for size in spread(n_base, 40, 400):  # singletons
        lang = langs[n % len(langs)]
        add(repo(n), f"src/pkg{n % 17}/{stem(n)}.{LANG_EXT[lang]}", lang, fresh(n, size), "single")
        n += 1

    extras = spread(n_classes, 1, 4)
    kinds = [("revendor", "neardup", "renamed")[j % 3] for j in range(sum(extras))]
    rng.shuffle(kinds)
    for size, n_extra in zip(spread(n_classes, 40, 400), extras):  # FIXTURES.md duplicate classes
        lang = langs[n % len(langs)]
        s, text = stem(n), fresh(n, size)
        # every copy matches the original; two copies need not match each
        # other (a " - copy" stem blocks on "copy"), so the original holds
        # the entity together
        members = [add(repo(n), f"src/pkg{n % 17}/{s}.{LANG_EXT[lang]}", lang, text, "original")]
        for e in range(n_extra):
            kind, alt = kinds.pop(), (n + e) % 2
            if kind == "revendor":  # identical content, other repo, every other one another ext
                lang2 = langs[(n + alt) % len(langs)]
                members.append(add(repo(n + 101 * (e + 1)), f"vendor/{s}.{LANG_EXT[lang2]}", lang2, text, "copy"))
            elif kind == "neardup":  # edited stem and content
                edited = text.replace(f"s{seed}f{n}_0", f"s{seed}f{n}_renamed") + "\n# edited in fork"
                members.append(add(repo(n + 211 * (e + 1)), f"src/alt{e}/{s}{('2', '_b')[alt]}.{LANG_EXT[lang]}", lang, edited, "copy"))
            else:  # identical content, " - copy" / "_v2" stem
                members.append(add(repo(n + 307 * (e + 1)), f"src/pkg{n % 17}/{s}{(' - copy', '_v2')[alt]}.{LANG_EXT[lang]}", lang, text, "copy"))
        groups.append(members)
        n += 1

    for b in range(n_hot_blocks):  # hot names: distinct files sharing a stem
        ids = [add(repo(n + k), f"src/m{k}/{HOT_STEMS[b % len(HOT_STEMS)]}.py", "py", fresh(n + k, size), "hot")
               for k, size in enumerate(spread(hot_block_size, 60, 300))]
        negatives.extend(itertools.combinations(sorted(ids), 2))
        n += hot_block_size

    for c, size in enumerate(spread(n_chains, 120, 400)):  # near-duplicate chains: each member matches its neighbours
        lang = langs[c % len(langs)]
        s, text = stem(n), fresh(n, size)
        members = []
        for j in range(chain_len):
            members.append(add(repo(n + j), f"src/chain{c}/{s}_r{j}.{LANG_EXT[lang]}", lang, text, "chain"))
            text = _drift(rng, text, f"s{seed}f{n}d{j}", 0.2)
        groups.append(members)
        n += 1

    for k in range(n_junk):  # dropped by the ingest scan predicate
        add(repo(n + k), f"src/pkg{k % 17}/{JUNK_NAMES[k % len(JUNK_NAMES)]}", "txt", f"junk {seed} {k}", "junk")

    df = pd.DataFrame(rows)
    roles = df.pop("_role").tolist()
    ids = [file_id(r, p, c) for r, p, c in zip(df["repo"], df["path"], df["commit"])]
    truth = {i: i for i, role in zip(ids, roles) if role != "junk"}
    for members in groups:
        root = min(members)
        for m in members:
            truth[m] = root
    pairs = [(l, r, True) for g in groups for l, r in itertools.combinations(sorted(g), 2)]
    pairs += [(l, r, False) for l, r in negatives]
    return FilesCorpus(
        files=df,
        roles=roles,
        labeled_pairs=pairs,
        truth=truth,
        stats={
            "rows": len(df),
            "eligible_rows": len(truth),
            "content_bytes": int(df["content"].str.len().sum()),
            "hot_block_sizes": [hot_block_size] * n_hot_blocks,
            "chain_lengths": [chain_len] * n_chains,
            "entities_gt1": len(groups),
        },
    )


WORDS = (
    "batch part spark line column order small sort fast value scan a hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "join shuffle index plan task stage cache node disk page block file"
).split()
LANGS = (["en"] * 8) + ["zh"] * 3 + ["es"] * 3 + ["fr"] * 3 + ["de"] * 3


def documents_table(seed: int, n_docs: int = 2000, n_sources: int = 20) -> pd.DataFrame:
    """sf0.1-shaped documents: word sequences of 44-577 characters, with 2%
    exact copies and 4% near-duplicates (a few words replaced) of an
    earlier document in the same (lang, source) block. The seed moves
    words and positions; lengths and block sizes are the same multiset for
    every seed."""
    rng = np.random.default_rng(seed)
    lang = rng.permutation(np.resize(LANGS, n_docs))
    source = rng.permutation(np.array([f"src{i % n_sources}" for i in range(n_docs)]))
    texts = []
    for target in rng.permutation(np.linspace(44, 577, n_docs).astype(int)):
        words: list[str] = []
        while sum(map(len, words)) + len(words) < target:
            words.append(WORDS[int(rng.integers(len(WORDS)))])
        texts.append(" ".join(words))
    dups = rng.choice(np.arange(1, n_docs), int(n_docs * 0.06), replace=False)
    for k, i in enumerate(dups):
        j = int(rng.integers(0, i))
        lang[i], source[i] = lang[j], source[j]
        if k < n_docs * 0.02:
            texts[i] = texts[j]
        else:
            w = texts[j].split()
            for p in rng.integers(0, len(w), max(1, len(w) // 12)):
                w[int(p)] = WORDS[int(rng.integers(len(WORDS)))]
            texts[i] = " ".join(w)
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": source,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
