"""Seeded input generators for the benchmark.

Two families, both a pure function of the seed:

* PubMed page blobs in NCBI ASN.1 text notation, one file per page named
  ``{year}_{month}_num_{retstart}`` (the reference's stage-1 naming).  Page
  ``1999_1_num_0`` starts with the FIXTURES.md A1 article 123456, whose v1
  keywords are the A2 golden set.  About 10% of articles carry no abstract;
  abstracts draw from a Zipf vocabulary with inflections, punctuation,
  numbers, quoted terms and stopwords.
* A multilingual training corpus (JSON lines: doc_id, text, lang, source)
  with planted shares of non-English, low-quality, exact-duplicate and
  near-duplicate documents and heavy-tailed lengths.  The stage counts the
  corpus funnel must report are computed here from what was planted and
  stored in ``truth.json``.

``generate(seed, root)`` writes everything under ``root``; ``digest(root)``
hashes the written tree.  Generating the same seed twice must give the same
digest (checked by ``run.py`` whenever it builds a cache entry).
"""

import hashlib
import json
import os
import random

# Input sizes.  See WORKLOADS.md for how they were chosen.
PAGES = 12                 # measured PubMed pages
ARTICLES_PER_PAGE = 500
CORPUS_DOCS = 12000        # the funnel gate's input and the whole stream
BATCH_DOCS = 1000          # stream micro-batch size (about)

# Planted corpus shares.
SHARE_NON_EN = 0.15
SHARE_LOW_QUALITY = 0.10   # of English documents
SHARE_EXACT = 0.08         # exact copies of clean singletons
SHARE_NEAR = 0.22          # documents inside near-duplicate clusters

# Stopwords the generator plants.  Every one is in the library's English
# stopword list; vocabulary words are checked to be in none of its lists.
STOP = ["the", "of", "and", "a", "in", "to", "is", "was", "with", "for",
        "on", "by", "that", "this", "are", "were", "be", "at", "from", "as",
        "an", "these", "which", "or", "after", "between", "during", "into"]
ENGLISH_STOPWORDS = set("""
i me my myself we our ours ourselves you your yours yourself yourselves he
him his himself she her hers herself it its itself they them their theirs
themselves what which who whom this that these those am is are was were be
been being have has had having do does did doing a an the and but if or
because as until while of at by for with about against between into through
during before after above below to from up down in out on off over under
again further then once here there when where why how all any both each few
more most other some such no nor not only own same so than too very can will
just don should now also may could would might must shall using used use one
""".split())

FIXTURE_PMID = 123456
FIXTURE_ABSTRACT = ("This article is a review of the different publications "
                    "on breast cancer in men.")

ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
          "t", "v", "z", "br", "cr", "dr", "gl", "pl", "st", "tr", "th", "ch"]
VOWELS = ["a", "e", "i", "o", "u", "ea", "io", "ou"]
CODAS = ["", "", "n", "r", "s", "l", "m", "x", "nd", "st"]


def _vocab(rng, n, min_len):
    words, seen = [], set()
    while len(words) < n:
        w = "".join(rng.choice(ONSETS) + rng.choice(VOWELS)
                    for _ in range(rng.randint(1, 3))) + rng.choice(CODAS)
        if len(w) >= min_len and w not in seen and w not in ENGLISH_STOPWORDS:
            seen.add(w)
            words.append(w)
    return words


def _zipf_cum(n, s):
    acc, out = 0.0, []
    for r in range(1, n + 1):
        acc += 1.0 / r ** s
        out.append(acc)
    return out


# Vocabularies are fixed (not seed-dependent) so every seed has the same
# text statistics; the seed decides which words and documents appear.
_VR = random.Random(20240611)
EN_VOCAB = _vocab(_VR, 6000, 5)
OTHER_VOCAB = {lang: _vocab(_VR, 1500, 4) for lang in ("de", "fr", "es", "it")}
EN_CUM = _zipf_cum(len(EN_VOCAB), 1.05)
OTHER_CUM = _zipf_cum(1500, 1.05)
STOP_CUM = _zipf_cum(len(STOP), 1.0)


def _letter_tokens(text):
    """Lowercased [a-zA-Z] runs: the funnel's quality tokenization."""
    out, cur = [], []
    for ch in text:
        if "a" <= ch <= "z" or "A" <= ch <= "Z":
            cur.append(ch.lower())
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return out


# --------------------------------------------------------------- PubMed


def _abstract(rng):
    words = rng.randint(120, 300)
    content = rng.choices(EN_VOCAB, cum_weights=EN_CUM, k=words)
    stops = rng.choices(STOP, cum_weights=STOP_CUM, k=words)
    out, sent = [], []
    for c, s in zip(content, stops):
        r = rng.random()
        if r < 0.36:
            w = s
        elif r < 0.40:
            w = rng.choice(["%d%%" % rng.randint(1, 99),
                            "(n = %d)" % rng.randint(5, 900),
                            "%d-%s" % (rng.randint(1, 9), c.upper()[:3]),
                            '"%s"' % c])
        else:
            u = rng.random()
            w = c + ("s" if u < 0.15 else "ed" if u < 0.22
                     else "ing" if u < 0.27 else "")
        if rng.random() < 0.06:
            w += ","
        sent.append(w)
        if len(sent) >= rng.randint(8, 25):
            sent[0] = sent[0][:1].upper() + sent[0][1:]
            out.append(" ".join(sent).rstrip(",") + rng.choice([".", ".", ";"]))
            sent = []
    if sent:
        out.append(" ".join(sent).rstrip(",") + ".")
    return " ".join(out)


def _entry(pmid, abstract, year, month):
    lines = ["Pubmed-entry ::= {", "  pmid %d ," % pmid, "  medent {",
             "    em std { year %d , month %d } ," % (year, month)]
    if abstract is not None:
        lines.append('    abstract "%s" ,' % abstract.replace('"', '""'))
    lines += ["    status ok", "  }", "}"]
    return "\n".join(lines)


def _pages(rng, out_dir, n_pages, pmid0):
    os.makedirs(out_dir)
    n_art = n_abs = 0
    pmid = pmid0
    for p in range(n_pages):
        year, month = 1999 + p // 12, p % 12 + 1
        entries = []
        for i in range(ARTICLES_PER_PAGE):
            if p == 0 and i == 0:
                entries.append(_entry(FIXTURE_PMID, FIXTURE_ABSTRACT, year, month))
                n_abs += 1
            else:
                pmid += rng.randint(1, 7)
                abstract = None if rng.random() < 0.10 else _abstract(rng)
                n_abs += abstract is not None
                entries.append(_entry(pmid, abstract, year, month))
            n_art += 1
        name = "%d_%d_num_%d" % (year, month, (p % 12) * ARTICLES_PER_PAGE)
        with open(os.path.join(out_dir, name), "w", encoding="utf-8") as f:
            f.write("\n".join(entries) + "\n")
    return n_art, n_abs


# --------------------------------------------------------------- corpus


def _en_text(rng, n_tokens, stop_share):
    content = rng.choices(EN_VOCAB, cum_weights=EN_CUM, k=n_tokens)
    stops = rng.choices(STOP, cum_weights=STOP_CUM, k=n_tokens)
    return [s if rng.random() < stop_share else c
            for c, s in zip(content, stops)]


def _render(rng, toks):
    out = []
    for i, t in enumerate(toks):
        out.append(t)
        if i + 1 < len(toks) and rng.random() < 0.07:
            out[-1] += rng.choice([",", ".", ";"])
    return " ".join(out) + "."


def _length(rng):
    # heavy tail: Pareto(alpha=1.6) above 30 tokens, capped
    return min(1500, int(30 * rng.paretovariate(1.6)))


def _is_clean(text):
    toks = _letter_tokens(text)
    n_stop = sum(t in ENGLISH_STOPWORDS for t in toks)
    return len(toks) >= 10 and n_stop / max(len(toks), 1) <= 0.6


def _blocks(rng, groups, n_blocks):
    """Deal every group's documents, sorted by length, round-robin into
    blocks, so each block (one stream micro-batch) gets the same mix of
    kinds and lengths; then shuffle within each block."""
    blocks = [[] for _ in range(n_blocks)]
    for g, docs in enumerate(groups):
        ranked = sorted(docs, key=lambda d: len(d[0]))
        for k, d in enumerate(ranked):
            blocks[(k + g) % n_blocks].append(d)
    for b in blocks:
        rng.shuffle(b)
    return blocks


def _corpus(rng, n, block_docs):
    """Returns (blocks, truth): blocks of about ``block_docs`` documents
    (text, lang, source), in id order."""
    n_non_en = int(n * SHARE_NON_EN)
    n_en = n - n_non_en
    n_low = int(n_en * SHARE_LOW_QUALITY)
    n_exact = int(n * SHARE_EXACT)
    n_near_members = int(n * SHARE_NEAR)
    n_clean_base = n_en - n_low - n_exact - n_near_members
    non_en, low, clean, copies, near = [], [], [], [], []
    for _ in range(n_non_en):
        lang = rng.choice(sorted(OTHER_VOCAB))
        toks = rng.choices(OTHER_VOCAB[lang], cum_weights=OTHER_CUM,
                           k=_length(rng))
        non_en.append((_render(rng, toks), lang, "web"))
    for i in range(n_low):
        if i % 2:
            toks = _en_text(rng, rng.randint(3, 8), 0.3)
        else:
            toks = _en_text(rng, rng.randint(20, 80), 1.0)
            toks[rng.randrange(len(toks))] = rng.choice(EN_VOCAB)
        text = _render(rng, toks)
        assert not _is_clean(text)
        low.append((text, "en", "forum"))
    singles = []
    for _ in range(n_clean_base):
        while True:
            text = _render(rng, _en_text(rng, _length(rng), 0.3))
            if _is_clean(text):
                break
        singles.append(text)
        clean.append((text, "en", rng.choice(["web", "papers", "books"])))
    for _ in range(n_exact):
        copies.append((rng.choice(singles), "en", "mirror"))
    # near-duplicate clusters: a base of >= 60 tokens plus variants, each a
    # copy with 1 (short base) or 2 content-word substitutions at positions
    # no other variant of the cluster touches, so no two members are equal
    clusters = 0
    left = n_near_members
    while left >= 2:
        size = min(left, rng.randint(2, 6))
        if left - size == 1:
            size = left
        while True:
            base = _en_text(rng, rng.randint(60, 400), 0.3)
            if _is_clean(" ".join(base)):
                break
        edits = 1 if len(base) < 120 else 2
        positions = rng.sample(range(len(base)), (size - 1) * edits)
        texts = [" ".join(base) + "."]
        for v in range(size - 1):
            toks = list(base)
            for p in positions[v * edits:(v + 1) * edits]:
                w = toks[p]
                while w == toks[p]:
                    w = rng.choice(EN_VOCAB)
                toks[p] = w
            texts.append(" ".join(toks) + ".")
        for t in texts:
            assert _is_clean(t)
            near.append((t, "en", "news"))
        clusters += 1
        left -= size
    blocks = _blocks(rng, [non_en, low, clean, copies, near],
                     max(1, round(n / block_docs)))
    truth = {
        "n_input": n,
        "n_lang": n_en,
        "n_quality": n_en - n_low,
        "n_exact": n_en - n_low - n_exact,
        "n_near": n_en - n_low - n_exact - (n_near_members - clusters),
        "near_clusters": clusters,
        "near_members": n_near_members,
    }
    return blocks, truth


def _write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for doc_id, (text, lang, source) in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text, "lang": lang,
                                "source": source}, sort_keys=True) + "\n")


def generate(seed, root):
    """Write every input of every workload for ``seed`` under ``root``."""
    rng = random.Random(seed)
    truth = {"seed": seed}
    n_art, n_abs = _pages(rng, os.path.join(root, "pubmed", "pages"),
                          PAGES, 200000)
    truth["pubmed"] = {"articles": n_art, "abstracts": n_abs,
                       "fixture_pmid": FIXTURE_PMID,
                       "years": sorted({1999 + p // 12 for p in range(PAGES)})}
    blocks, truth["corpus"] = _corpus(rng, CORPUS_DOCS, BATCH_DOCS)
    cdir = os.path.join(root, "corpus")
    os.makedirs(os.path.join(cdir, "batches"))
    rows, doc_id = [], 1
    for b, block in enumerate(blocks):
        batch = list(enumerate(block, start=doc_id))
        doc_id += len(block)
        rows += batch
        _write_jsonl(os.path.join(cdir, "batches", "batch-%05d.jsonl" % b),
                     batch)
    _write_jsonl(os.path.join(cdir, "docs.jsonl"), rows)
    truth["corpus"]["batches"] = len(blocks)
    truth["corpus"]["input_bytes"] = os.path.getsize(
        os.path.join(cdir, "docs.jsonl"))
    truth["stream_terms"] = _query_terms(rng)
    with open(os.path.join(root, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
        f.write("\n")


def _query_terms(rng):
    """Zipf-drawn BM25 probe term lists, 1-3 terms each."""
    return [rng.choices(EN_VOCAB, cum_weights=EN_CUM, k=rng.randint(1, 3))
            for _ in range(512)]


def digest(root):
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()
