"""Seeded input generators for the benchmark workloads, with ground truth.

Every generator is a pure function of its seed and size, written with the
standard library only, and imports nothing from the package under test:
a change to the package's own synthetic sources cannot change the inputs.

* ``kg_pages``: web pages in the inline-``<entity>`` page grammar with gold
  ``page_relations``.  Entities come from a seeded vocabulary; each entity
  has variant surfaces (inflection, dropped diacritics, a one-character
  typo), and the variants of one entity form a planted cluster.
* ``web_docs``: documents with planted exact duplicates, near-duplicate
  clusters, boilerplate that overfills LSH buckets, and null/empty text.

``stage`` writes a workload's inputs as parquet plus a ``truth.json`` file.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import re
import shutil
from random import Random

HOT_DOMAIN = "hot.example.pl"
HTML_PREFIX = (
    '<html><head><meta charset="utf-8"/><title>strona</title></head>'
    "<body><article>"
)
HTML_SUFFIX = "</article></body></html>"

# (relation class, subject channel, predicate phrase, object channel).  The
# predicate phrases are the ones the relation scorer recognises.
REL_TEMPLATES = [
    ("lives_in", "person_nam", "mieszka w", "city_nam"),
    ("born_in", "person_nam", "urodził się w", "city_nam"),
    ("works_for", "person_nam", "pracuje w", "org_nam"),
    ("located_in", "city_nam", "leży w", "country_nam"),
    ("part_of", "facility_nam", "znajduje się w", "city_nam"),
    ("cooperates_with", "org_nam", "współpracuje z", "org_nam"),
]
CHANNELS = ["person_nam", "city_nam", "country_nam", "org_nam", "facility_nam"]
FILLERS = [
    "Pogoda była wyjątkowo słoneczna tego dnia.",
    "Wieczorem odbył się koncert muzyki dawnej.",
    "Nikt nie spodziewał się takiego obrotu spraw.",
    "Raport zostanie opublikowany w przyszłym tygodniu.",
]
NON_PL = [
    ("en", "The quick brown fox jumps over the lazy dog near the river bank."),
    ("de", "Der schnelle braune Fuchs springt über den faulen Hund am Fluss."),
]

_ONSETS = ["b", "c", "d", "g", "k", "l", "m", "n", "p", "r", "s", "t", "w", "z",
           "ch", "cz", "sz", "rz", "dz"]
_VOWELS = ["a", "e", "i", "o", "u", "y"]
_POLISH = {"l": "ł", "s": "ś", "z": "ż", "c": "ć", "n": "ń", "a": "ą", "e": "ę", "o": "ó"}
_DIACRITICS = str.maketrans("ąćęłńóśźżĄĆĘŁŃÓŚŹŻ", "acelnoszzACELNOSZZ")
_INFLECT = ["a", "owi", "em", "ie", "u", "ą"]
_TYPO_LETTERS = "abcdeghiklmnoprstuwyz"


def _word(rng: Random, n_syl: int) -> str:
    """A pseudo-Polish word; about one letter in ten carries a diacritic."""
    letters = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(n_syl))
    return "".join(_POLISH[c] if c in _POLISH and rng.random() < 0.1 else c for c in letters)


def _entity_name(rng: Random, channel: str) -> str:
    if channel == "person_nam":
        first = _word(rng, 2).capitalize()
        last = _word(rng, 2).capitalize() + rng.choice(["ski", "cki", "wicz", "ak"])
        return f"{first} {last}"
    if channel in ("org_nam", "facility_nam"):
        return f"{_word(rng, 2).capitalize()} {_word(rng, 3).capitalize()}"
    return _word(rng, 3 if channel == "city_nam" else 2).capitalize() + rng.choice(["ów", "in", "no", "ia"])


def _variants(rng: Random, base: str) -> list[str]:
    """The planted cluster of one entity: base, an inflected form, the form
    without diacritics and a one-character typo of the last word."""
    head, _, last = base.rpartition(" ")
    prefix = head + " " if head else ""
    out = [base, prefix + last + rng.choice(_INFLECT)]
    plain = base.translate(_DIACRITICS)
    if plain != base:
        out.append(plain)
    pos = 1 + rng.randrange(max(1, len(last) - 2))
    letter = rng.choice([c for c in _TYPO_LETTERS if c != last[pos].lower()])
    out.append(prefix + last[:pos] + letter + last[pos + 1:])
    return out


def build_vocabulary(seed: int, n_entities: int) -> dict[str, list[tuple[str, list[str]]]]:
    """channel -> [(entity id, [variant surfaces])]; every surface belongs to
    exactly one entity, also when lowercased (the tokenizer lowercases)."""
    rng = Random(f"vocab:{seed}")
    taken: set[str] = set()
    vocab: dict[str, list[tuple[str, list[str]]]] = {c: [] for c in CHANNELS}
    share = {"person_nam": 0.4, "city_nam": 0.25, "org_nam": 0.2,
             "facility_nam": 0.1, "country_nam": 0.05}
    for channel in CHANNELS:
        want = max(4, int(n_entities * share[channel]))
        while len(vocab[channel]) < want:
            base = _entity_name(rng, channel)
            variants = [v for v in dict.fromkeys(_variants(rng, base))
                        if v.lower() not in taken]
            if base not in variants:
                continue
            taken.update(v.lower() for v in variants)
            vocab[channel].append((f"{channel}:{len(vocab[channel])}", variants))
    return vocab


def kg_pages(seed: int, n_pages: int, n_entities: int):
    """-> (pages, relations, truth).  ``pages`` rows follow the page schema
    (url, warc_ts, html, text, lang); ``relations`` rows are
    (url, e1_id, e2_id, rel_class)."""
    vocab = build_vocabulary(seed, n_entities)
    surface_entity: dict[str, str] = {}
    pages, relations = [], []
    n_gold = 0
    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    for idx in range(n_pages):
        rng = Random(f"page:{seed}:{idx}")
        url = (f"https://{HOT_DOMAIN}/artykul/{idx}" if rng.random() < 0.2
               else f"https://w{rng.randrange(211)}.example.pl/doc/{idx}")
        tag = f"d{idx}"
        rels = []
        if rng.random() < 1 / 17:
            lang, text = NON_PL[rng.randrange(len(NON_PL))]
        else:
            lang = "pl"
            counter = itertools.count(1)
            sents = []

            def mention(channel: str, entity=None):
                ent_id, variants = entity or vocab[channel][rng.randrange(len(vocab[channel]))]
                surface = variants[rng.randrange(len(variants))]
                surface_entity[surface.lower()] = ent_id
                eid = f"{tag}.{next(counter)}"
                return ent_id, eid, f'<entity id="{eid}" category="{channel}">{surface}</entity>'

            for _ in range(1 + rng.randrange(3)):
                rel, s_chan, pred, o_chan = REL_TEMPLATES[rng.randrange(len(REL_TEMPLATES))]
                s_ent, e1, m1 = mention(s_chan)
                o_ent, e2, m2 = mention(o_chan)
                if s_ent == o_ent:
                    continue
                sents.append(f"{m1} {pred} {m2}.")
                rels.append({"url": url, "e1_id": e1, "e2_id": e2, "rel_class": rel})
                n_gold += 1
            if rng.random() < 0.5:
                ma, mb = mention("person_nam")[2], mention("person_nam")[2]
                sents.append(f"Na konferencji spotkali się {ma} oraz {mb}.")
            if rng.random() < 1 / 50:
                marks = [mention("person_nam")[2] for _ in range(16)]
                sents.append("W spotkaniu udział wzięli " + ", ".join(marks) + ".")
            sents.append(FILLERS[rng.randrange(len(FILLERS))])
            if len(rels) >= 2 and rng.random() < 0.1:
                # a cross-sentence annotation, which the same-sentence rule drops
                rels.append({**rels[0], "e2_id": rels[1]["e2_id"]})
            rng.shuffle(sents)
            text = " ".join(sents)
        pages.append({
            "url": url,
            "warc_ts": t0 + dt.timedelta(seconds=rng.randrange(7 * 86400)),
            "html": (HTML_PREFIX + text + HTML_SUFFIX).encode("utf-8"),
            "text": text,
            "lang": lang,
        })
        relations.extend(rels)
    truth = {
        "n_pages": n_pages,
        "n_pl_pages": sum(p["lang"] == "pl" for p in pages),
        "n_gold_triples": n_gold,
        "surface_entity": surface_entity,
    }
    return pages, relations, truth


# --- web documents for near-duplicate detection -----------------------------

def _norm(text: str) -> str:
    """The exact-dedup normal form: lowercase, trim, collapse whitespace."""
    return re.sub(r"\s+", " ", text.lower().strip(" "))


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = _norm(text).split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / max(1, len(sa | sb))


def web_docs(seed: int, n_docs: int):
    """-> (docs, truth).  ``docs`` rows are (doc_id, url, text); the truth
    holds the planted near-duplicate pairs, the exact-copy pairs and the
    expected number of exact-dedup groups."""
    rng = Random(f"docs:{seed}")
    words = sorted({_word(rng, 2 + rng.randrange(2)).translate(_DIACRITICS)
                    for _ in range(6000)})

    def sentence() -> str:
        return " ".join(rng.choice(words) for _ in range(8 + rng.randrange(8))).capitalize() + "."

    def body(n_sent: int) -> list[str]:
        return [sentence() for _ in range(n_sent)]

    boiler = " ".join(body(6))
    texts: list[str | None] = []
    clusters: list[list[int]] = []

    def add(text):
        texts.append(text)
        return len(texts) - 1

    n_boiler = max(80, n_docs // 12)
    n_special = 6
    while len(texts) < n_docs - n_boiler - n_special:
        sents = body(10)
        base = " ".join(sents)
        members = [add(base)]
        kind = rng.random()
        if kind < 0.35:
            for _ in range(1 + rng.randrange(3)):
                variant = sents[:]
                i = rng.randrange(len(variant) - 1)
                variant[i], variant[i + 1] = variant[i + 1], variant[i]
                toks = " ".join(variant).split(" ")
                for _ in range(1 + rng.randrange(2)):
                    toks[rng.randrange(len(toks))] = rng.choice(words)
                variant_text = " ".join(toks)
                if jaccard(base, variant_text) >= 0.75:
                    members.append(add(variant_text))
        elif kind < 0.5:
            # exact copies up to case and inner whitespace
            for _ in range(1 + rng.randrange(2)):
                members.append(add(base.upper() if rng.random() < 0.5 else base.replace(" ", "  ", 3)))
        if len(members) > 1:
            clusters.append(members)
    for _ in range(n_boiler):
        add(boiler + " " + " ".join(body(4)))
    for text in (None, None, None, "", "", " "):
        add(text)
    order = list(range(len(texts)))
    rng.shuffle(order)
    doc_id = {old: new for new, old in enumerate(order)}
    docs = [None] * len(texts)
    for old, new in doc_id.items():
        docs[new] = {"doc_id": new, "url": f"https://site{new % 97}.example.com/p/{new}",
                     "text": texts[old]}
    # a planted pair is a pair inside one cluster that is a near-duplicate
    # at the operator's default word-3-gram Jaccard threshold of 0.7
    pairs = sorted(
        (min(doc_id[a], doc_id[b]), max(doc_id[a], doc_id[b]))
        for members in clusters for a, b in itertools.combinations(members, 2)
        if jaccard(texts[a], texts[b]) >= 0.7
    )
    exact_pairs = sorted(
        (min(doc_id[a], doc_id[b]), max(doc_id[a], doc_id[b]))
        for members in clusters for a, b in itertools.combinations(members, 2)
        if _norm(texts[a]) == _norm(texts[b])
    )
    truth = {
        "n_docs": len(docs),
        "planted_pairs": pairs,
        "exact_pairs": exact_pairs,
        "n_exact_groups": len({_norm(t) if t is not None else None for t in texts}),
        "n_boilerplate": n_boiler,
    }
    return docs, truth


# --- staging ----------------------------------------------------------------

SIZES = {
    "kg_wide": {"n_pages": 1200, "n_entities": 1200, "n_files": 4},
    "web_dedup": {"n_docs": 1500},
}


def _write(rows: list[dict], schema, path: str, n_files: int = 1) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        chunk = rows[i * step:(i + 1) * step]
        table = pa.Table.from_pylist(chunk, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def stage(workload: str, seed: int, root: str) -> str:
    """Write the workload's inputs under ``root`` once per (workload, seed,
    size) and return their directory."""
    import pyarrow as pa

    size = SIZES[workload]
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = os.path.join(root, f"{workload}-seed{seed}-{tag}")
    if os.path.exists(os.path.join(out, "truth.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "kg_wide":
        pages, rels, truth = kg_pages(seed, size["n_pages"], size["n_entities"])
        _write(pages, pa.schema([
            ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
        ]), os.path.join(tmp, "pages"), size["n_files"])
        _write(rels, pa.schema([("url", pa.string()), ("e1_id", pa.string()),
                                ("e2_id", pa.string()), ("rel_class", pa.string())]),
               os.path.join(tmp, "relations"))
        truth["n_files"] = size["n_files"]
    else:
        docs, truth = web_docs(seed, size["n_docs"])
        _write(docs, pa.schema([("doc_id", pa.int64()), ("url", pa.string()),
                                ("text", pa.string())]), os.path.join(tmp, "docs"))
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
