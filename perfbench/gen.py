"""Seeded input generator and independent oracle for the engine benchmark.

Every input the engine sees is made here from the workload seed, and the
expected outputs are recorded while generating, from the generator's own
knowledge of what it wrote (never by running the engine):

* ``corpus``: a directory of plain-text files whose words follow a Zipf
  law, with mixed case, attached punctuation, numbers, short tokens and
  stop words, plus the benchmark's own stop-word list and punctuation
  set.  The expected ranked index (``expected_index.txt``) is derived from
  the per-(term, doc) counts under the documented token rules.
* ``serve``: a Zipf ``documents`` table and a seeded operation stream of
  top-postings lookups, small appended batches and compactions.
* ``tables``: the ten parquet tables the registered queries read, at a
  small fixed scale, with the value domains those queries filter on.

Sizes never depend on the seed, so run time does not either.
"""
import hashlib
import json
import os
import shutil

import numpy as np

# ---- corpus_build inputs -------------------------------------------------

CORPUS_FILES = 200
CORPUS_TOKENS_PER_FILE = 3500
TOKENS_PER_LINE = 12
VOCAB = 40000
ZIPF_S = 1.07

# The benchmark's own skip lists (the reference's skip files are not
# shipped with this repository).  Stop words of fewer than three letters
# are dropped by the length filter anyway; they are listed for realism.
STOP_WORDS = sorted(set("""
a about above after again against all am an and any are as at be because
been before being below between both but by can did do does doing down
during each few for from further had has have having he her here hers
herself him himself his how i if in into is it its itself just me more
most my myself no nor not now of off on once only or other our ours
ourselves out over own same she should so some such than that the their
theirs them themselves then there these they this those through to too
under until up very was we were what when where which while who whom why
will with would you your yours yourself yourselves shall thee thou thy
""".split()))
# single characters the tokenizer scrubs to spaces
PUNCTUATION = list("!\"#$%&'()*,-./:;<>?@[]_`{|}~")
# punctuation the generator attaches to words (all in PUNCTUATION)
_SUFFIX = list(",.;:!?)\"'")
_PREFIX = list("(\"'[")

# token rules of InvertedIndex.tokenize / removeStopWords, which the
# expected counts follow: lower-case, punctuation chars -> space, split
# on whitespace, keep tokens of >= 3 chars that are not an optionally
# signed digit run, drop stop words.
TOKEN_RULES = ("lowercase; each punctuation char becomes a space; split on "
               "whitespace; keep tokens of length >= 3 that do not match "
               "^[-+]?[0-9]*$ and are not stop words")

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _words(rng, n, lo, hi, forbid):
    """n distinct lower-case words of lo..hi letters, none in forbid."""
    out, seen = [], set(forbid)
    while len(out) < n:
        lens = rng.integers(lo, hi + 1, size=n)
        chars = rng.integers(97, 123, size=(n, hi), dtype=np.uint8)
        for ln, row in zip(lens, chars):
            w = row[:ln].tobytes().decode()
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def _zipf_ids(rng, n, size, s):
    p = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def corpus(seed, out):
    """Writes ``out/input/doc-NNNN.txt``, ``out/skip/*``, the expected
    index (``expected_index.txt``) and its token total
    (``expected.json``)."""
    rng = np.random.default_rng([seed, 1])
    vocab = _words(rng, VOCAB, 3, 10, STOP_WORDS)
    # a few alphanumeric terms: kept, since they are not all digits
    for i in rng.choice(VOCAB, size=VOCAB // 50, replace=False):
        vocab[i] = vocab[i] + str(int(rng.integers(0, 100)))
    vocab = np.array(vocab, dtype=object)
    stops = np.array(STOP_WORDS, dtype=object)
    inp = os.path.join(out, "input")
    os.makedirs(inp)
    n = CORPUS_TOKENS_PER_FILE
    shorts = np.array([a + b for a in _LETTERS for b in [""] + list(_LETTERS)],
                      dtype=object)
    # [lower, Title, UPPER] spellings, indexed [case, id]
    cased = lambda ws: np.array([list(ws), [w[:1].upper() + w[1:] for w in ws],
                                 [w.upper() for w in ws]], dtype=object)
    vforms, sforms, shforms = cased(vocab), cased(stops), cased(shorts)
    sufs = np.array(_SUFFIX + [""], dtype=object)
    pres = np.array(_PREFIX + [""], dtype=object)
    term_ids, doc_ids = [], []
    for d in range(CORPUS_FILES):
        # 0 content word, 1 stop word, 2 short token (1-2 letters),
        # 3 number (sometimes signed), 4 hyphenated compound (two terms)
        kind = rng.choice(5, size=n, p=[0.66, 0.22, 0.05, 0.04, 0.03])
        w1 = _zipf_ids(rng, VOCAB, n, ZIPF_S)
        w2 = _zipf_ids(rng, VOCAB, n, ZIPF_S)
        case = rng.choice(3, size=n, p=[0.75, 0.18, 0.07])
        nums = rng.integers(0, 10 ** rng.integers(1, 7, size=n))
        numbers = np.where(nums % 7 == 0, "+", "").astype(object) + \
            nums.astype(str).astype(object)
        toks = np.select(
            [kind == 0, kind == 1, kind == 2, kind == 3],
            [vforms[case, w1],
             sforms[case, rng.integers(0, len(stops), size=n)],
             shforms[case, rng.integers(0, len(shorts), size=n)],
             numbers],
            vforms[case, w1] + "-" + vforms[case, w2])
        # 1 in 6 tokens gets a trailing punctuation char, 1 in 20 a leading
        suf = rng.integers(0, len(_SUFFIX) * 6, size=n)
        pre = rng.integers(0, len(_PREFIX) * 20, size=n)
        toks = pres[np.minimum(pre, len(_PREFIX))] + toks + \
            sufs[np.minimum(suf, len(_SUFFIX))]
        lines = [" ".join(toks[j:j + TOKENS_PER_LINE])
                 for j in range(0, n, TOKENS_PER_LINE)]
        with open(os.path.join(inp, f"doc-{d:04d}.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")
        content = kind == 0
        comp = kind == 4
        term_ids += [w1[content], w1[comp], w2[comp]]
        doc_ids += [np.full(int(content.sum()) + 2 * int(comp.sum()), d)]
    term_ids = np.concatenate(term_ids)
    doc_ids = np.concatenate(doc_ids)
    skip = os.path.join(out, "skip")
    os.makedirs(skip)
    with open(os.path.join(skip, "stop-words.txt"), "w") as f:
        f.write("\n".join(STOP_WORDS) + "\n")
    with open(os.path.join(skip, "punctuation.txt"), "w") as f:
        f.write("\n".join(PUNCTUATION) + "\n")
    kept = write_expected_index(
        os.path.join(out, "expected_index.txt"), vocab, term_ids, doc_ids,
        [f"doc-{d:04d}.txt" for d in range(CORPUS_FILES)])
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump({"kept_tokens": kept, "token_rules": TOKEN_RULES}, f)


def write_expected_index(path, vocab, term_ids, doc_ids, doc_names):
    """Writes the expected ``term: doc#cnt, ...`` lines: terms ascending,
    postings by count descending then doc name ascending (doc names sort
    as their indices do). Returns the number of indexed tokens."""
    n_docs = len(doc_names)
    keys, cnt = np.unique(term_ids.astype(np.int64) * n_docs + doc_ids,
                          return_counts=True)
    terms, docs = keys // n_docs, keys % n_docs
    rank = np.empty(len(vocab), dtype=np.int64)
    rank[np.argsort(vocab.astype(str))] = np.arange(len(vocab))
    order = np.lexsort((docs, -cnt, rank[terms]))
    terms, docs, cnt = terms[order], docs[order], cnt[order]
    posts = np.array(doc_names, dtype=object)[docs] + "#" + \
        cnt.astype(str).astype(object)
    starts = np.flatnonzero(np.r_[True, terms[1:] != terms[:-1]])
    bounds = np.r_[starts, len(terms)]
    with open(path, "w") as f:
        f.writelines(vocab[terms[s]] + ": " + ", ".join(posts[s:e]) + "\n"
                     for s, e in zip(bounds[:-1], bounds[1:]))
    return int(cnt.sum())


# ---- index_serve inputs --------------------------------------------------

SERVE_DOCS = 800
SERVE_VOCAB = 8000
SERVE_DOC_TOKENS = (40, 160)
SERVE_ROUNDS = 100          # more than any run executes
# one round: nine lookups around one appended batch, then a compaction, so
# five of the nine lookups read an uncompacted ledger tail
SERVE_ROUND = ["lookup"] * 4 + ["append"] + ["lookup"] * 5 + ["compact"]
SERVE_APPEND_DOCS = 20
SERVE_TOP_K = 10


def _doc_texts(rng, vocab, n):
    lens = rng.integers(SERVE_DOC_TOKENS[0], SERVE_DOC_TOKENS[1] + 1, size=n)
    ids = _zipf_ids(rng, len(vocab), int(lens.sum()), ZIPF_S)
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(vocab[ids[at:at + ln]]))
        at += ln
    return texts


def serve(seed, out):
    """Writes ``out/documents.parquet`` and ``out/ops.jsonl``: one
    operation a line, a lookup ``{"op":"lookup","term":t}``, an append
    ``{"op":"append","batch":b,"docs":[[id,text],...]}`` or
    ``{"op":"compact"}``.  Lookups mix hot terms (long posting lists),
    cold terms and absent terms, including terms that only appended
    documents contain."""
    rng = np.random.default_rng([seed, 2])
    words = _words(rng, SERVE_VOCAB + 200, 3, 9, ())
    vocab = np.array(words[:SERVE_VOCAB], dtype=object)
    absent = words[SERVE_VOCAB:SERVE_VOCAB + 100]
    # terms only appended batches carry: absent from the base table
    fresh = np.array(words[SERVE_VOCAB + 100:], dtype=object)
    texts = _doc_texts(rng, vocab, SERVE_DOCS)
    docs_table(out, texts, rng)
    next_id = SERVE_DOCS
    with open(os.path.join(out, "ops.jsonl"), "w") as f:
        for r in range(SERVE_ROUNDS):
            for op in SERVE_ROUND:
                if op == "lookup":
                    k = rng.random()
                    if k < 0.4:      # hot: long posting lists
                        t = vocab[rng.integers(0, 50)]
                    elif k < 0.75:   # cold: a few postings
                        t = vocab[rng.integers(1000, SERVE_VOCAB)]
                    elif k < 0.9:    # only in appended batches
                        t = fresh[rng.integers(0, len(fresh))]
                    else:            # absent everywhere
                        t = absent[rng.integers(0, len(absent))]
                    f.write(json.dumps({"op": "lookup", "term": t}) + "\n")
                elif op == "append":
                    batch = _doc_texts(rng, vocab, SERVE_APPEND_DOCS)
                    for j in range(SERVE_APPEND_DOCS):
                        if rng.random() < 0.5:
                            batch[j] += " " + fresh[rng.integers(0, len(fresh))]
                    docs = [[next_id + j, batch[j]] for j in range(len(batch))]
                    next_id += len(batch)
                    f.write(json.dumps({"op": "append", "batch": r,
                                        "docs": docs}) + "\n")
                else:
                    f.write(json.dumps({"op": "compact"}) + "\n")


def serve_replay(out, n_ops):
    """The expected answers to the first `n_ops` operations of
    ``ops.jsonl``, from the generator's record of the base documents and
    of every appended batch committed before each lookup, plus the
    number of documents appended by then.  A lookup's answer is its
    top-``SERVE_TOP_K`` ``[doc_id, cnt]`` postings by count descending,
    doc id ascending."""
    import pyarrow.parquet as pq
    base = pq.read_table(os.path.join(out, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pydict()
    postings = {}

    def add(doc_id, text):
        counts = {}
        for t in text.split():
            counts[t] = counts.get(t, 0) + 1
        for t, c in counts.items():
            postings.setdefault(t, []).append((-c, doc_id))

    for d, t in zip(base["doc_id"], base["text"]):
        add(d, t)
    want, appended = [], 0
    with open(os.path.join(out, "ops.jsonl")) as f:
        for _ in range(n_ops):
            op = json.loads(f.readline())
            if op["op"] == "lookup":
                top = sorted(postings.get(op["term"], []))[:SERVE_TOP_K]
                want.append({"op": "lookup", "rows": [[d, -c] for c, d in top]})
            else:
                if op["op"] == "append":
                    for d, t in op["docs"]:
                        add(d, t)
                    appended += len(op["docs"])
                want.append({"op": op["op"]})
    return want, appended


# ---- query_mix inputs ----------------------------------------------------


def docs_table(out, texts, rng):
    import pandas as pd
    os.makedirs(out, exist_ok=True)
    n = len(texts)
    df = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], size=n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    _write(df, out, "documents")


def _write(df, out, name):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(out, f"{name}.parquet"))


def _ts(rng, lo, hi, n, unit="D"):
    lo, hi = np.datetime64(lo), np.datetime64(hi)
    span = int((hi - lo) / np.timedelta64(1, unit))
    return (lo + rng.integers(0, span, size=n).astype(f"timedelta64[{unit}]")
            ).astype("datetime64[us]")


# phrases the pipeline family's contamination queries search for
_PHRASES = ["big part merge table join", "sort slow value slow hash",
            "the quick brown fox jumps"]
_DOC_WORDS = ("join hash row batch scan column customer filter small slow "
              "merge order vector line data table agg value key stream "
              "window a spark part group big sort query fast the").split()


def tables(seed, out):
    """The ten parquet tables the registered queries read (schemas as in
    FIXTURES.md), at the row counts of the sf0.01 test data."""
    import pandas as pd
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_line, n_ev, n_doc, n_emb = 15000, 60000, 10000, 500, 500
    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                    "MIDDLE EAST"]}), out, "region")
    _write(pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
           out, "nation")
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)}),
        out, "customer")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}), out, "supplier")
    adj = ["small", "red", "blue", "hot", "old", "large", "new"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"]
    _write(pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, n_part),
                                             rng.choice(noun, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)}),
        out, "part")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts(rng, "1995-01-01", "2001-08-02", n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        out, "orders")
    qty = rng.integers(1, 51, n_line).astype(float)
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(rng, "1995-01-02", "2001-11-05", n_line)}),
        out, "lineitem")
    ev_ts = np.sort(_ts(rng, "2024-01-01", "2024-01-31", n_ev, unit="us"))
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": money(0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        out, "events")
    # documents: a small shared vocabulary under a Zipf law (so a few
    # tokens are heavy hitters), near-duplicates marked by a 'dup' token so
    # the dedup family finds clusters, and a few documents carrying the
    # benchmark phrases the contamination queries look for
    p = 1.0 / np.arange(1, len(_DOC_WORDS) + 1)
    words = np.array(_DOC_WORDS, dtype=object)
    texts = []
    for i in range(n_doc):
        if i % 20 == 19:  # a near-duplicate of an earlier original
            src = texts[i - 1 - int(rng.integers(0, 18))].split()
            src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        else:
            toks = list(rng.choice(words, int(rng.integers(10, 100)), p=p / p.sum()))
            if i % 25 == 7:
                at = int(rng.integers(0, len(toks)))
                toks[at:at] = _PHRASES[(i // 25) % len(_PHRASES)].split()
            texts.append(" ".join(toks))
    docs_table(out, texts, rng)
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    for i in range(20, n_emb, 25):  # near-duplicate vectors
        emb[i] = emb[i - 20] + rng.normal(scale=0.01, size=64)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pd.DataFrame({"vec_id": np.arange(n_emb, dtype=np.int64),
                         "embedding": list(emb),
                         "label": rng.integers(0, 10, n_emb).astype(np.int32)}),
           out, "embeddings")


MAKERS = {"corpus": corpus, "serve": serve, "tables": tables}


# inputs made by another version of this generator are never reused
with open(__file__, "rb") as _src:
    _VERSION = hashlib.sha256(_src.read()).hexdigest()[:12]


def path(kind, seed, root):
    """Where `ensure` puts the inputs of `kind` for `seed`."""
    return os.path.join(root, f"{kind}-{seed}-{_VERSION}")


def ensure(kind, seed, root):
    """Inputs of `kind` for `seed` under `root`, generated once per seed
    (a finished directory is renamed into place, so a killed generation
    never leaves a half-written input behind)."""
    final = path(kind, seed, root)
    if not os.path.isdir(final):
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        MAKERS[kind](seed, tmp)
        os.rename(tmp, final)
    return final
