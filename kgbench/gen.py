"""Seeded input generator for the KG-construction benchmark.

    python3 kgbench/gen.py --workload ingest_bulk --seed 7 --out DIR

Writes the tables a workload reads, and nothing else reaches the program:

  ingest_bulk:
    docs/              (doc_id, spans: list<struct<kind,text,media_ref,offset>>)
    meta/              (doc_id, company_name, stock_code, sector, year,
                        quarter, url, token_count)
    gazetteer.parquet  (surface, tpe)
    truth.json         alias groups: surfaces that name one entity
    warm/docs, warm/meta  a small corpus of the same shape for set-up
  (docs/ and meta/ are directories of parquet part files)
  kg_query:
    docs/, meta/, gazetteer.parquet, truth.json
                       a corpus of the same shape, from which the child
                       builds the graph during set-up
    queries.json       the seeded call mix

and props.json with the input properties that decide which side of each
path choice the workload sits on. The same seed gives byte-identical
tables.
"""

import argparse
import bisect
import functools
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Relation pattern infixes the program extracts (graft.fixtures.Fixtures
# .patterns): (infix, subject type, object type).
PATTERNS = [
    ("acquired", "ORGANIZATION", "ORGANIZATION"),
    ("partnered with", "ORGANIZATION", "ORGANIZATION"),
    ("invested in", "ORGANIZATION", "ORGANIZATION"),
    ("competes with", "ORGANIZATION", "ORGANIZATION"),
    (", chief executive officer of", "PERSON", "ORGANIZATION"),
    ("was appointed chief financial officer of", "PERSON", "ORGANIZATION"),
    ("joined", "PERSON", "ORGANIZATION"),
    ("launched", "ORGANIZATION", "PRODUCT"),
    ("unveiled", "ORGANIZATION", "PRODUCT"),
    ("opened a new facility in", "ORGANIZATION", "LOCATION"),
    ("is headquartered in", "ORGANIZATION", "LOCATION"),
    ("reported revenue of", "ORGANIZATION", "MONEY"),
    ("presented at", "PERSON", "EVENT"),
    ("sponsored", "ORGANIZATION", "EVENT"),
    ("commissioned", "ORGANIZATION", "FACILITY"),
    ("restructured", "ORGANIZATION", "GROUP"),
]

# Suffixes and prefixes the program strips before blocking and feature
# vectors (graft.text.Tok.simplifyEntityName), applied in the same order.
STRIP_SUFFIXES = [" Inc.", " Inc", " Corp.", " Corp", " LLC", " Ltd.", " Ltd",
                  " GmbH", " AG", " Co.", " Company", " Corporation"]
STRIP_PREFIXES = ["The ", "Dr. ", "Mr. ", "Mrs. ", "Ms. ", "Prof. "]

FILLER = ("revenue growth margin guidance outlook quarter demand supply market "
          "segment performance capital expenses operating results strategy "
          "momentum pipeline headwinds tailwinds forecast investment expansion "
          "efficiency customers bookings backlog adjusted earnings "
          "consolidated").split()
SECTORS = ["Technology", "Energy", "Healthcare", "Industrials", "Financials"]
MEDIA_KINDS = ["image", "audio", "video", "table"]

# Paths the program chooses by size (graft.link.Linker.candidates,
# graft.canon.ConnectedComponents.LocalEdgeCap, graft.retrieval.Ppr
# .LocalEdgeCap).
LINKER_BUCKET_CAP = 10000
CC_LOCAL_EDGE_CAP = 200000
PPR_LOCAL_EDGE_CAP = 200000

# Input sizes per workload. KG_CALLS is the warm-up calls plus two rounds,
# each one call of every kind: as many as a run makes.
BULK_DOCS = 3000
KG_DOCS = 400
KG_RANKS = 200
KG_CALLS = 6 + 12
PARTS = 16


def simplify(name):
    for s in STRIP_SUFFIXES:
        if name.endswith(s):
            name = name[: -len(s)]
    for p in STRIP_PREFIXES:
        if name.startswith(p):
            name = name[len(p):]
    return name.strip()


def blocking_keys(name, tpe):
    """The three blocking keys Linker.candidates derives from a name."""
    simp = simplify(name).lower()
    return {f"{tpe}|{simp.split(' ')[0]}", f"{tpe}|{simp[:4]}",
            f"{tpe}|{simp[-4:]}"}


def largest_bucket(entities):
    counts = {}
    for name, tpe in entities:
        for k in blocking_keys(name, tpe):
            counts[k] = counts.get(k, 0) + 1
    return max(counts.values()) if counts else 0


class Words:
    """Distinct pronounceable capitalised words, drawn without repeats."""

    def __init__(self, rng):
        self.rng = rng
        self.seen = set()

    def word(self, syllables):
        cons, vows = "bcdfghklmnprstvz", "aeiou"
        while True:
            w = "".join(self.rng.choice(cons) + self.rng.choice(vows)
                        for _ in range(syllables))
            w += self.rng.choice("nrstlx")
            if w not in self.seen:
                self.seen.add(w)
                return w.capitalize()


@functools.lru_cache(maxsize=None)
def _zipf_cdf(n, s):
    acc, total = [], 0.0
    for i in range(n):
        total += 1.0 / (i + 1) ** s
        acc.append(total)
    return acc


def zipf_index(rng, n, s):
    """Index in [0, n) with P(i) proportional to 1 / (i + 1)^s."""
    cdf = _zipf_cdf(n, s)
    return bisect.bisect_left(cdf, rng.random() * cdf[-1])


# ---- documents ------------------------------------------------------------


def date_clause(rng, dates):
    r = rng.randrange(5)
    if r == 0:
        return ""
    if r in (1, 2):
        return f" on {rng.choice(dates)}"
    if r == 3:
        return f" in Q{1 + rng.randrange(4)} {2018 + rng.randrange(6)}"
    return f" on {rng.choice(dates)} until {rng.choice(dates)}"


class Corpus:
    """Interleaved documents over a gazetteer, in the shape of the
    program's synthetic earnings-call corpus: 5-30 spans, about 12% media,
    1-3 sentences per text span, about 55% relation sentences."""

    def __init__(self, rng, by_type, money, dates):
        self.rng = rng
        self.by_type = by_type
        self.money = money
        self.dates = dates

    def alias(self, tpe):
        if tpe == "MONEY":
            return self.rng.choice(self.money)
        return self.rng.choice(self.by_type[tpe])

    def relation_sentence(self):
        rng = self.rng
        infix, st, ot = rng.choice(PATTERNS)
        subj = self.alias(st)
        obj = self.alias(ot)
        tries = 0
        while obj == subj and tries < 4:
            obj = self.alias(ot)
            tries += 1
        dc = date_clause(rng, self.dates)
        if infix.startswith(","):
            return f"{subj}{infix} {obj}, outlined the strategy{dc}."
        return f"{subj} {infix} {obj}{dc}."

    def filler_sentence(self):
        rng = self.rng
        words = [rng.choice(FILLER) for _ in range(5 + rng.randrange(8))]
        if rng.randrange(3) == 0:
            tpe = rng.choice(["ORGANIZATION", "PERSON", "LOCATION", "PRODUCT"])
            words.insert(rng.randrange(len(words)), self.alias(tpe))
        s = " ".join(words)
        return s[0].upper() + s[1:] + "."

    def doc(self, idx, companies):
        rng = self.rng
        doc_id = f"doc_{idx:08d}"
        spans, offset, media, tokens = [], 0, 0, 0
        for _ in range(5 + rng.randrange(26)):
            if rng.randrange(100) < 12:
                spans.append({"kind": rng.choice(MEDIA_KINDS), "text": "",
                              "media_ref": f"media://{doc_id}/{media}",
                              "offset": offset})
                media += 1
                offset += 1
            else:
                text = " ".join(
                    self.relation_sentence() if rng.randrange(100) < 55
                    else self.filler_sentence()
                    for _ in range(1 + rng.randrange(3)))
                spans.append({"kind": "text", "text": text, "media_ref": "",
                              "offset": offset})
                tokens += len(text.split())
                offset += len(text) + 1
        company = rng.choice(companies)
        meta = {
            "doc_id": doc_id, "company_name": company,
            "stock_code": "".join(w[:2].upper() for w in company.split()),
            "sector": rng.choice(SECTORS), "year": 2018 + rng.randrange(6),
            "quarter": f"Q{1 + rng.randrange(4)}",
            "url": f"https://example.invalid/calls/{doc_id}",
            "token_count": tokens,
        }
        return {"doc_id": doc_id, "spans": spans}, meta


def value_pools(rng, n_money, n_dates):
    money = sorted({f"${1 + rng.randrange(999)}.{rng.randrange(10)} "
                    f"{rng.choice(['million', 'billion'])}"
                    for _ in range(n_money)})
    dates = sorted({f"{2018 + rng.randrange(6):04d}-{1 + rng.randrange(12):02d}"
                    f"-{1 + rng.randrange(28):02d}" for _ in range(n_dates)})
    return money, dates


def fixture_gazetteer(rng, words):
    """A gazetteer the size and shape of the program's fixture: 30
    organisations with three aliases, 24 people with two, and single
    surfaces for locations, products, events, facilities and groups."""
    groups = []
    for _ in range(30):
        base = f"{words.word(2)} {words.word(2)}"
        groups.append(("ORGANIZATION", [base, base + " Inc.", base + " Co."]))
    for _ in range(24):
        first, last = words.word(2), words.word(3)
        groups.append(("PERSON", [f"{first} {last}", f"{first} {last[0]}. {last}"]))
    singles = [("LOCATION", 16, lambda: words.word(2)),
               ("PRODUCT", 12, lambda: words.word(2) + words.word(1).lower()),
               ("EVENT", 8, lambda: f"the {words.word(2)} Summit"),
               ("FACILITY", 6, lambda: f"the {words.word(2)} Plant"),
               ("GROUP", 6, lambda: f"the {words.word(2)} Division")]
    for tpe, n, make in singles:
        for _ in range(n):
            groups.append((tpe, [make()]))
    return groups


def write_parts(rows, schema, path, parts=PARTS):
    """A table as `parts` parquet files, so Spark splits the scan over all
    cores the way it would over a real multi-file corpus."""
    os.makedirs(path, exist_ok=True)
    for p in range(parts):
        chunk = rows[p * len(rows) // parts:(p + 1) * len(rows) // parts]
        pq.write_table(pa.Table.from_pylist(chunk, schema),
                       os.path.join(path, f"part-{p:05d}.parquet"))


def write_corpus(out, rng, groups, money, dates, n_docs, n_warm):
    """The corpus, then (with n_warm > 0) a smaller warm-up corpus of the
    same shape over the same gazetteer (warm/), which set-up runs so that it
    compiles every code path without processing the measured corpus."""
    by_type = {}
    for tpe, aliases in groups:
        by_type.setdefault(tpe, []).extend(aliases)
    corpus = Corpus(rng, by_type, money, dates)
    companies = [a[0] for t, a in groups if t == "ORGANIZATION"]
    docs, metas = zip(*[corpus.doc(i, companies) for i in range(n_docs)])
    warm = [corpus.doc(n_docs + i, companies) for i in range(n_warm)]
    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    doc_schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span_t))])
    meta_schema = pa.schema(
        [("doc_id", pa.string()), ("company_name", pa.string()),
         ("stock_code", pa.string()), ("sector", pa.string()),
         ("year", pa.int32()), ("quarter", pa.string()), ("url", pa.string()),
         ("token_count", pa.int32())])
    write_parts(docs, doc_schema, os.path.join(out, "docs"))
    write_parts(metas, meta_schema, os.path.join(out, "meta"))
    if warm:
        write_parts([d for d, _ in warm], doc_schema, os.path.join(out, "warm", "docs"))
        write_parts([m for _, m in warm], meta_schema, os.path.join(out, "warm", "meta"))
    gaz = [{"surface": s, "tpe": t} for t, aliases in groups for s in aliases]
    pq.write_table(pa.Table.from_pylist(gaz, pa.schema(
        [("surface", pa.string()), ("tpe", pa.string())])),
        os.path.join(out, "gazetteer.parquet"))
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump([{"type": t, "aliases": a} for t, a in groups if len(a) > 1], f)
    spans = [s for d in docs for s in d["spans"]]
    media = sum(1 for s in spans if s["kind"] != "text")
    return {
        "docs": len(docs), "spans": len(spans),
        "media_share": round(media / len(spans), 4),
        "gazetteer_surfaces": len(gaz),
        "largest_blocking_bucket": largest_bucket(
            [(s, t) for t, aliases in groups for s in aliases]),
        "linker_bucket_cap": LINKER_BUCKET_CAP,
        "cc_local_edge_cap": CC_LOCAL_EDGE_CAP,
    }


def fixed_gazetteer():
    """The gazetteer and value pools, the same for every seed like the
    program's fixture: seeds differ in their documents, not in the entity
    universe that linking works on."""
    fixed = random.Random("ingest_bulk:gazetteer")
    groups = fixture_gazetteer(fixed, Words(fixed))
    money, dates = value_pools(fixed, 300, 400)
    return groups, money, dates


def gen_ingest(out, rng):
    groups, money, dates = fixed_gazetteer()
    return write_corpus(out, rng, groups, money, dates, BULK_DOCS, BULK_DOCS // 10)


def gen_kg(out, rng):
    """The corpus the graph is built from, and the call mix. The child
    builds the canonical graph from the corpus with the program's pipeline
    during set-up, then replicates it until the edge table is over Ppr's
    cap (KgQuery in kgbench/scala/Workloads.scala), so degrees and
    neighbourhoods are the ones the pipeline produces.

    A call names entities by replica and popularity rank (0 = the most
    mentioned entity of a replica), Zipf over ranks, so popular entities
    are queried most; the child resolves ranks to names."""
    groups, money, dates = fixed_gazetteer()
    props = write_corpus(out, rng, groups, money, dates, KG_DOCS, 0)
    kinds = ["ppr", "any", "all", "related", "cooc", "hybrid"]
    types = ["ORGANIZATION", "PERSON", "PRODUCT", "LOCATION"]
    calls = []
    for i in range(KG_CALLS):
        kind = kinds[i % len(kinds)]
        n = {"any": 3, "all": 2, "hybrid": 3}.get(kind, 1)
        calls.append({"kind": kind, "replica": rng.randrange(100),
                      "ranks": [zipf_index(rng, KG_RANKS, 1.0) for _ in range(n)],
                      "type": rng.choice(types)})
    with open(os.path.join(out, "queries.json"), "w") as f:
        json.dump(calls, f)
    props.update({"calls": len(calls), "ppr_local_edge_cap": PPR_LOCAL_EDGE_CAP})
    return props


GENERATORS = {"ingest_bulk": gen_ingest, "kg_query": gen_kg}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    rng = random.Random(f"{workload}:{seed}")
    props = GENERATORS[workload](out, rng)
    props["seed"] = seed
    with open(os.path.join(out, "props.json"), "w") as f:
        json.dump(props, f, sort_keys=True)
    return props


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out), sort_keys=True))


if __name__ == "__main__":
    main()
