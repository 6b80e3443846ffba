"""Seeded input generator and planted truth for the three workloads.

Everything the engine reads is written here as parquet before the JVM
starts; the same seed gives byte-identical files. Next to the inputs the
generator writes `truth.json`: the answers each step must produce, derived
from how the inputs were built (keyword hits, lexicon scores, admitted ids,
planted near-duplicate pairs and retrieval targets), never from the
engine under test.
"""

import json
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes of one run. A step is one batch; the generator writes enough of
# them for the longest allowed measurement plus warm-up. Where each figure
# comes from is listed in README.md ("Where the input sizes come from").
SIZES = {
    # the reference searches 7 subreddits for 17 keywords with a limit of
    # 1,000 posts per search: at most 119,000 posts a run. A batch is a
    # tenth of that ceiling
    "etl_spine": {"standing_posts": 20000, "batch_posts": 11900,
                  "subreddits": 7, "bodies": 3000},
    # the engine's document/embedding fixtures carry 64-d embeddings in 10
    # labelled clusters (FIXTURES.md; sf0.1 holds 5,000 documents)
    "index_ingest": {"docs": 4096, "batch_docs": 400, "queries": 8,
                     "clusters": 10},
}
DIM = 64
# 17 search keywords, as many as the reference's; the repository records
# their count, not the words, so these are student-dropout terms of our
# own. None contains another, a lexicon word or a generated word
KEYWORDS = [
    "college", "university", "tuition", "semester", "dropout", "student",
    "degree", "campus", "professor", "classes", "graduate", "freshman",
    "major", "loans", "transfer", "scholarship", "withdraw"]
LIMIT_PER_SUBREDDIT = 1000
# The engine's sentiment lexicon (graft.ops.Sentiment.Lexicon); scores are
# eighths, kept here as integer numerators so sums stay exact.
LEXICON = {
    "fast": 7, "good": 6, "great": 7, "spark": 4, "merge": 2, "stream": 1,
    "big": 3, "value": 2, "slow": -7, "bad": -6, "error": -7, "dup": -4,
    "small": -2, "drop": -3, "fail": -6, "dirty": -5}
CLEAN_RE = re.compile(r"http\S+|www\S+|[^a-zA-Z\s]")
FLAG_RE = re.compile(r"drop[\s-]?out|dropped out", re.IGNORECASE)
EPOCH_2016 = 1451606400
EPOCH_2025 = 1735689600


def clean_text(s):
    """Reference cleaner: strip URLs and non-letters, lower-case, trim."""
    return CLEAN_RE.sub("", s).lower().strip()


def floor4(x):
    return np.floor(x * 10000.0) / 10000.0


def label_of(score):
    if score > 0.1:
        return "positive"
    if score < -0.1:
        return "negative"
    return "neutral"


def letters(n):
    """Bijective base-26 letter code of n (marker tokens, names)."""
    out = []
    n += 1
    while n > 0:
        n, r = divmod(n - 1, 26)
        out.append(chr(ord("a") + r))
    return "".join(reversed(out))


def make_vocab(rng, n):
    """n distinct lower-case words that can never produce a keyword hit,
    a dropout flag, a lexicon match or a marker collision by accident."""
    banned = set(LEXICON) | {"http", "www"}
    words, seen = [], set()
    while len(words) < n:
        ln = int(rng.integers(3, 9))
        w = "".join(chr(97 + int(c)) for c in rng.integers(0, 26, ln))
        if (w in seen or w in banned or w.startswith("zq")
                or w.startswith("out") or "drop" in w
                or any(k in w for k in KEYWORDS)
                or any(b in w for b in ("http", "www"))):
            continue
        seen.add(w)
        words.append(w)
    return words


def zipf_p(n, s=1.07):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def write_table(path, columns, schema):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pydict(columns, schema=schema)
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------- etl_spine

RAW_SCHEMA = pa.schema([
    ("id", pa.string()), ("title", pa.string()), ("selftext", pa.string()),
    ("created_utc", pa.int64()), ("url", pa.string()),
    ("subreddit", pa.string())])
LABELS = ["negative", "neutral", "positive"]


def _sentence(rng, vocab, vp):
    """One sentence: Zipf words plus planted lexicon words, keywords,
    dropout phrases, a URL or a number."""
    lex = list(LEXICON)
    toks = [vocab[i] for i in rng.choice(len(vocab), int(
        rng.integers(5, 12)), p=vp)]
    u = rng.random(6)
    if u[0] < 0.45:
        toks.insert(int(rng.integers(1, len(toks))),
                    lex[int(rng.integers(len(lex)))])
    if u[1] < 0.25:
        toks.insert(int(rng.integers(1, len(toks))),
                    lex[int(rng.integers(len(lex)))])
    if u[2] < 0.16:
        toks.insert(int(rng.integers(1, len(toks))),
                    KEYWORDS[int(rng.integers(len(KEYWORDS)))])
    if u[3] < 0.05:
        phrase = ["dropped", "out"] if u[4] < 0.5 else ["drop-out"]
        at = int(rng.integers(1, len(toks)))
        toks[at:at] = phrase
    if u[5] < 0.1:
        toks.append("https://example.org/p%d" % int(rng.integers(1e6)))
    if u[4] > 0.8:
        toks.insert(1, str(int(rng.integers(2000, 2030))))
    return toks[0].capitalize() + " " + " ".join(toks[1:]) + "."


def _body_pool(rng, vocab, n):
    """Post texts (title, selftext) with their planted facts: how many
    keywords the raw text matches (the searches that return the post),
    dropout flag on the cleaned text, and the lexicon
    score (mean of matched eighths, floored at 4 dp as the engine does)."""
    vp = zipf_p(len(vocab))
    titles, bodies, searches, flag, score = [], [], [], [], []
    for _ in range(n):
        title = _sentence(rng, vocab, vp)
        body = " ".join(_sentence(rng, vocab, vp)
                        for _ in range(int(rng.integers(1, 5))))
        raw = title + " " + body
        words = [t for t in clean_text(raw).split(" ") if t]
        num = sum(LEXICON.get(t, 0) for t in words)
        cnt = sum(1 for t in words if t in LEXICON)
        titles.append(title)
        bodies.append(body)
        searches.append(sum(k in raw.lower() for k in KEYWORDS))
        flag.append(FLAG_RE.search(clean_text(raw)) is not None)
        score.append(float(floor4((num / 8.0) / cnt)) if cnt else 0.0)
    labels = [LABELS.index(label_of(x)) for x in score]
    return (np.array(titles, dtype=object), np.array(bodies, dtype=object),
            np.array(searches), np.array(flag), np.array(labels))


def _posts(rng, pool, subs, sub_p, ids):
    """A frame of raw posts over pool texts plus each row's planted
    facts (keyword searches that find it, flag, label index, year)."""
    n = len(ids)
    pick = rng.integers(0, len(pool[0]), n)
    created = rng.integers(EPOCH_2016, EPOCH_2025, n)
    return pd.DataFrame({
        "id": ids, "title": pool[0][pick], "selftext": pool[1][pick],
        "created_utc": created,
        "url": ["https://reddit.example/" + i for i in ids],
        "subreddit": np.array(subs, dtype=object)[
            rng.choice(len(subs), n, p=sub_p)],
        "searches": pool[2][pick], "flag": pool[3][pick],
        "label": pool[4][pick],
        "year": created.astype("datetime64[s]").astype("datetime64[Y]")
        .astype(int) + 1970})


def _as_search_results(df):
    """The raw feed as the reference's search loop returns it: a post
    comes back once from each keyword search that matches it, and once
    (as a non-literal match the extract's filter drops) when none does."""
    return df.loc[df.index.repeat(df["searches"].clip(lower=1))] \
        .reset_index(drop=True)


def _write_posts(path, df):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df[RAW_SCHEMA.names],
                                        schema=RAW_SCHEMA,
                                        preserve_index=False),
                   path, compression="snappy")


def _extract(df):
    """Reference extract: keyword hit, keep-first on id, top-N per
    subreddit by (created desc, id asc)."""
    hits = df[df["searches"] > 0].drop_duplicates("id")
    ranked = hits.sort_values(["subreddit", "created_utc", "id"],
                              ascending=[True, False, True])
    return ranked.groupby("subreddit", sort=False).head(LIMIT_PER_SUBREDDIT)


def _charts(fact):
    """The four chart/insight results over a fact table's rows."""
    n = len(fact)
    labels = fact["label"].value_counts()
    years = fact["year"].value_counts()
    subs = fact["subreddit"].value_counts()
    per_year = fact.groupby(["year", "flag"]).size()
    heat = fact.groupby(["subreddit", "label"]).size().unstack(
        fill_value=0).reindex(columns=[0, 1, 2], fill_value=0)
    return {
        "sentiment": {LABELS[int(k)]: int(v) for k, v in labels.items()},
        "per_year": {"%d|%s" % (y, "true" if f else "false"): int(v)
                     for (y, f), v in per_year.items()},
        "heatmap": {s: [int(x) for x in row]
                    for s, row in zip(heat.index, heat.values)},
        "insights": {
            "total_posts": n, "dropout_mentions": int(fact["flag"].sum()),
            "pct_neutral_x100": int(np.floor(
                10000.0 * int(labels.get(1, 0)) / n)),
            "most_active_year": int(min(years.index,
                                        key=lambda y: (-years[y], y))),
            "top_subreddit": min(subs.index, key=lambda s: (-subs[s], s))}}


def gen_etl(out, seed, batches):
    sz = SIZES["etl_spine"]
    rng = np.random.default_rng([seed, 1])
    vocab = make_vocab(rng, 3000)
    pool = _body_pool(rng, vocab, sz["bodies"])
    subs = ["r" + letters(i) + w for i, w in
            enumerate(make_vocab(rng, sz["subreddits"]))]
    sub_p = zipf_p(len(subs), 1.2)
    standing = _as_search_results(_posts(
        rng, pool, subs, sub_p,
        ["s%07d" % i for i in range(sz["standing_posts"])]))
    _write_posts(os.path.join(out, "standing.parquet"), standing)
    fact = _extract(standing)
    fact_ids = fact["id"].to_numpy()
    truth = {"keywords": KEYWORDS,
             "limit_per_subreddit": LIMIT_PER_SUBREDDIT,
             "standing": {"fact_rows": len(fact)}, "batches": []}
    n = sz["batch_posts"]
    for b in range(batches):
        posts = _posts(rng, pool, subs, sub_p,
                       ["b%04d%06d" % (b, j) for j in range(n)])
        # re-seen posts carry ids already in the standing fact, so the
        # INSERT-IGNORE load must drop them
        reseen = rng.choice(n, n // 30, replace=False)
        posts.loc[reseen, "id"] = rng.choice(fact_ids, len(reseen),
                                             replace=False)
        posts["url"] = "https://reddit.example/" + posts["id"]
        # several searches return the same post (keep-first on id)
        posts = _as_search_results(posts)
        _write_posts(os.path.join(out, "batches", "b%04d.parquet" % b),
                     posts)
        extracted = _extract(posts)
        new = extracted[~extracted["id"].isin(fact_ids)]
        truth["batches"].append({
            "rows": len(posts), "extracted": len(extracted),
            "fact_rows": len(fact) + len(new),
            "charts": _charts(pd.concat([fact, new]))})
    return truth


# --------------------------------------------------------- index corpora

DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32())])
QUERY_SCHEMA = pa.schema([
    ("query_id", pa.int64()), ("query_text", pa.string()),
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])


def marker(doc_id):
    """The one token only this document carries (letters survive the
    cleaner; no vocabulary word starts with 'zq')."""
    return "zq" + letters(int(doc_id))


class _Corpus:
    def __init__(self, rng, vocab, clusters):
        self.rng, self.vocab = rng, vocab
        self.vp = zipf_p(len(vocab))
        self.centers = rng.normal(0.0, 1.0, (clusters, DIM))

    def text(self, doc_id):
        n = int(self.rng.integers(24, 40))
        toks = [self.vocab[i] for i in self.rng.choice(
            len(self.vocab), n, p=self.vp)]
        toks.insert(int(self.rng.integers(0, n)), marker(doc_id))
        return " ".join(toks)

    def vectors(self, n):
        lab = self.rng.integers(0, len(self.centers), n)
        v = self.centers[lab] + self.rng.normal(0.0, 0.45, (n, DIM))
        return v.astype(np.float32), lab.astype(np.int32)


def _doc_columns(ids, texts):
    return {"doc_id": [int(i) for i in ids], "text": texts,
            "lang": ["en"] * len(ids), "source": ["bench"] * len(ids),
            "n_chars": [len(t) for t in texts]}


def _emb_columns(ids, vecs, labels):
    return {"vec_id": [int(i) for i in ids],
            "embedding": [list(map(float, v)) for v in vecs],
            "label": [int(x) for x in labels]}


def _write_corpus(out, ids, texts, vecs, labels):
    d = os.path.join(out, "corpus")
    write_table(os.path.join(d, "documents.parquet"),
                _doc_columns(ids, texts), DOC_SCHEMA)
    write_table(os.path.join(d, "embeddings.parquet"),
                _emb_columns(ids, vecs, labels), EMB_SCHEMA)


def _queries(rng, corpus, targets, vecs, qid0):
    """One query per target: its marker plus two common words, and its
    vector (`vecs[i]` for the i-th target) plus a little noise."""
    qtext, qvec = [], []
    for t, v in zip(targets, vecs):
        # two of the eight commonest words: their idf stays far below the
        # marker's, so the target is the unique top-1 under BM25
        words = [corpus.vocab[i] for i in rng.choice(8, 2)]
        qtext.append(" ".join([words[0], marker(t), words[1]]))
        qvec.append(v + rng.normal(0.0, 0.01, DIM).astype(np.float32))
    qids = [qid0 + j for j in range(len(targets))]
    return {"query_id": qids, "query_text": qtext, "vec_id": qids,
            "embedding": [list(map(float, v)) for v in qvec]}


def _near_dup(rng, corpus, text):
    """Replace one middle token: about 0.86 shingle Jaccard at this
    document length, so LSH pairs it with its source."""
    toks = text.split(" ")
    at = int(rng.integers(len(toks) // 3, 2 * len(toks) // 3))
    while True:
        w = corpus.vocab[int(rng.integers(len(corpus.vocab)))]
        if w != toks[at]:
            toks[at] = w
            return " ".join(toks)


def gen_ingest(out, seed, batches):
    sz = SIZES["index_ingest"]
    rng = np.random.default_rng([seed, 3])
    corpus = _Corpus(rng, make_vocab(rng, 4000), sz["clusters"])
    n = sz["docs"]
    ids = np.arange(n)
    texts = [corpus.text(i) for i in ids]
    # standing near-duplicate groups, so the standing labels are not
    # empty. Every near-duplicate copies an original (never another copy),
    # so each component is a star and the label rounds do not vary
    originals = np.arange(0, n, 2)
    for j in rng.choice(np.arange(1, n, 2), n // 40, replace=False):
        texts[j] = _near_dup(rng, corpus, texts[int(rng.choice(originals))])
    vecs, labels = corpus.vectors(n)
    _write_corpus(out, ids, texts, vecs, labels)
    truth = {"batches": [], "standing_docs": n,
             "labels": [int(x) for x in labels]}
    bn = sz["batch_docs"]
    for b in range(batches):
        id0 = 50_000_000 + b * 10_000
        bids = np.arange(id0, id0 + bn)
        kind = rng.choice(4, bn, p=[0.76, 0.08, 0.12, 0.04])
        btexts, exact, near, later = [], [], [], []
        for j, k in enumerate(kind):
            if k == 1:       # exact copy of a standing document
                btexts.append(texts[int(rng.integers(n))])
                exact.append(int(bids[j]))
            elif k == 2:     # near-duplicate of a standing original
                src = int(rng.choice(originals))
                btexts.append(_near_dup(rng, corpus, texts[src]))
                near.append([int(bids[j]), src])
            elif k == 3 and j > 0 and kind[j - 1] == 0:
                # exact copy of the previous (fresh) batch document
                btexts.append(btexts[j - 1])
                later.append(int(bids[j]))
            else:
                kind[j] = 0
                btexts.append(corpus.text(int(bids[j])))
        fresh = [int(bids[j]) for j in range(bn) if kind[j] == 0]
        bvecs, blabels = corpus.vectors(bn)
        d = os.path.join(out, "batches", "b%04d" % b)
        write_table(os.path.join(d, "docs.parquet"),
                    _doc_columns(bids, btexts), DOC_SCHEMA)
        write_table(os.path.join(d, "emb.parquet"),
                    _emb_columns(bids, bvecs, blabels), EMB_SCHEMA)
        targets = rng.choice(fresh, sz["queries"], replace=False)
        qcols = _queries(rng, corpus, targets, bvecs[targets - id0],
                         20_000_000 + b * 100)
        write_table(os.path.join(d, "queries.parquet"), qcols, QUERY_SCHEMA)
        truth["batches"].append({
            "rows": bn, "fresh": fresh, "exact_dups": exact,
            "intra_dups": later, "near_pairs": near,
            "qids": qcols["query_id"], "id0": id0,
            "labels": [int(x) for x in blabels],
            "targets": [int(t) for t in targets]})
    return truth


GENERATORS = {"etl_spine": gen_etl, "index_ingest": gen_ingest}


def generate(workload, out, seed, batches):
    """Write the inputs of one run under `out` and return its truth."""
    truth = GENERATORS[workload](out, seed, batches)
    truth["workload"] = workload
    truth["seed"] = seed
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth
