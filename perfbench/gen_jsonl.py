"""Seeded JSONL corpus dumps for the ``curate_jsonl`` workload.

Every dump is derived from the ``documents`` table that
``gen_tables`` writes (same texts, languages and sources), one JSON
object per line with ``doc_id``, ``source``, ``lang`` and ``text``.
Lines are drawn with fixed shares of:

- exact duplicates (the text of an earlier line under a new id),
- texts under 5 tokens,
- broken lines (truncated JSON),

and the documents' own language mix puts about 2 lines in 7 outside
the default keep set ``en,fr,es``. The manifest carries the funnel the
``curate`` report must print: ``quarantined`` (broken lines),
``ingested`` (the rest) and ``deduped`` (distinct texts among ingested
lines that pass the language and length filters).
"""

from __future__ import annotations

import functools
import json
import random

from gen_tables import TABLES_SEED, document_texts

KEEP_LANGS = ("en", "fr", "es")
MIN_TOKENS = 5
DUPLICATE_SHARE = 0.10
SHORT_SHARE = 0.05
BROKEN_SHARE = 0.02
N_DOCUMENTS = 5000


@functools.cache
def _corpus() -> tuple[list[str], list[str], list[str]]:
    return document_texts(TABLES_SEED, N_DOCUMENTS)


def _n_tokens(text: str) -> int:
    return sum(1 for t in text.split(" ") if t)


def write_dump(path: str, seed: int, dump: int, n_lines: int) -> dict:
    """Write one dump of ``n_lines`` lines to ``path``; return its manifest."""
    texts, langs, sources = _corpus()
    rng = random.Random(f"jsonl:{seed}:{dump}")
    order = list(range(len(texts)))
    rng.shuffle(order)
    id_base = dump * 10_000_000
    kept_texts: set[str] = set()
    seen: list[str] = []
    broken = 0
    with open(path, "w") as fh:
        for i in range(n_lines):
            r = rng.random()
            src = order[i % len(order)]
            lang, source = langs[src], sources[src]
            if r < DUPLICATE_SHARE and seen:
                text = rng.choice(seen)
            elif r < DUPLICATE_SHARE + SHORT_SHARE:
                text = " ".join(texts[src].split(" ")[: rng.randint(1, MIN_TOKENS - 1)])
            else:
                # A pass count over the corpus keeps repeated draws of
                # one document distinct texts.
                text = texts[src] + ("" if i < len(order) else f" v{i // len(order)}")
            line = json.dumps(
                {"doc_id": id_base + i, "source": source, "lang": lang, "text": text}
            )
            if rng.random() < BROKEN_SHARE:
                fh.write(line[: rng.randint(1, len(line) - 2)] + "\n")
                broken += 1
                continue
            fh.write(line + "\n")
            seen.append(text)
            if lang in KEEP_LANGS and _n_tokens(text) >= MIN_TOKENS:
                kept_texts.add(text)
    return {
        "lines": n_lines,
        "quarantined": broken,
        "ingested": n_lines - broken,
        "deduped": len(kept_texts),
    }
