"""Seeded inputs: base corpus, query pool and the ingest batch plan.

Every input is a pure function of the seed: the same seed gives
byte-identical inputs, a different seed different ones. The program
under test only ever sees the generated rows and query strings.

The corpus mixes two row kinds in the (repo, path, commit, lang,
content) shape ``build_index`` takes:

* seed-selected rows of ``mias_spec.corpus.make_corpus`` -- XHTML with
  the exact (E = m c^2) and fuzzy formula families, markdown and python;
* plain-text rows in the shape of the sf testdata ``documents`` table
  (multilingual word soup over a small vocabulary), generated here so
  the benchmark reads nothing outside its checkout.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

from mias_spec import corpus as mc

#: rows drawn from ``make_corpus(CORPUS_SPACE)``; the two planted
#: formula families sit at i % 37 in {0, 1}
CORPUS_SPACE = 3000

#: vocabulary of the plain-text rows (the sf ``documents`` table's words
#: plus a few themed words shared with the XHTML rows, so text queries
#: match both row kinds)
TEXT_WORDS = """batch part spark line column order small sort fast value
scan hash slow group agg filter query key window vector table customer
stream join data big energy field wave matrix""".split()
TEXT_LANGS = ["en", "de", "fr", "es", "zh"]

#: query shapes of the pool, one query each
N_SHAPES = 8


def _rng(seed: int, purpose: str) -> np.random.Generator:
    h = hashlib.sha256(f"{seed}:{purpose}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "big"))


def _commit(tag: str) -> str:
    return hashlib.sha256(tag.encode()).hexdigest()[:40]


def _text_row(seed: int, k: int, group: str, rng: np.random.Generator
              ) -> dict:
    n = int(rng.integers(12, 40))
    words = [TEXT_WORDS[int(j)] for j in rng.integers(0, len(TEXT_WORDS), n)]
    return {"repo": f"textsrc/src{k % 5}",
            "path": f"text/{group}/t{seed}_{k:05d}.txt",
            "commit": _commit(f"text-{seed}-{k}"),
            "lang": TEXT_LANGS[k % len(TEXT_LANGS)],
            "content": " ".join(words) + " "}


def base_corpus(seed: int, n_generated: int, n_text: int,
                text_groups: int, n_family: int) -> pd.DataFrame:
    """``n_generated`` make_corpus rows (``n_family`` XHTML rows of each
    planted formula family among them) plus ``n_text`` plain-text rows
    split into ``text_groups`` path groups ``text/g<j>/``.

    The rows of each kind are counted out in make_corpus's own mix (half
    XHTML, 3/10 markdown, 1/5 python), one row from each of as many
    size strata, so the corpus bytes, and with them the index-to-input
    size ratio, do not swing with the seed's draw."""
    rng = _rng(seed, "corpus")
    full = mc.make_corpus(CORPUS_SPACE)
    size = full["content"].str.len().to_numpy()
    space = np.arange(CORPUS_SPACE)
    kind = space % 10                   # make_corpus: <5 XHTML, <8 md
    exact = space[(space % 37 == 0) & (kind < 5)]
    fuzzy = space[(space % 37 == 1) & (kind < 5)]
    rest = space[space % 37 > 1]
    n_md, n_py = n_generated * 3 // 10, n_generated // 5
    n_xhtml = n_generated - n_md - n_py - 2 * n_family

    def strata(rows: np.ndarray, n: int) -> list[int]:
        rows = rows[np.argsort(size[rows], kind="stable")]
        return [rng.choice(s) for s in np.array_split(rows, n)]

    pick = strata(exact, n_family) + strata(fuzzy, n_family)
    for lo, hi, n in ((0, 5, n_xhtml), (5, 8, n_md), (8, 10, n_py)):
        pick += strata(rest[(rest % 10 >= lo) & (rest % 10 < hi)], n)
    gen = full.iloc[np.sort(pick)]
    trng = _rng(seed, "text")
    text = [_text_row(seed, k, f"g{k % text_groups}", trng)
            for k in range(n_text)]
    out = pd.concat([gen, pd.DataFrame(text)], ignore_index=True)
    return out[["repo", "path", "commit", "lang", "content"]]


# ------------------------------------------------------------- query pool

def _math(ast, form: str) -> str:
    """Presentation-only ("P"), content-only ("C", in the
    ``annotation-xml`` the engine reads content MathML from) or parallel
    markup of one formula."""
    if form == "P":
        body = mc.render_presentation(ast)
    elif form == "C":
        body = ('<semantics><annotation-xml encoding="MathML-Content">'
                + mc.render_content(ast) + "</annotation-xml></semantics>")
    else:
        return mc.render_math(ast)
    return f'<math xmlns="http://www.w3.org/1998/Math/MathML">{body}</math>'


def _doc_words(content: str, lang: str) -> list[str]:
    """The document's body terms, in index order."""
    from mias_spec.document import tokenize_document
    return [t for f, t, _p, _w in tokenize_document(content, lang).tokens
            if f == "content"]


def query_pool(seed: int, docs: pd.DataFrame, size: int = N_SHAPES
               ) -> list[str]:
    """Distinct queries of the CLI ``-search`` shapes: single and multi
    term text, AND conjunctions, phrases with a ``-`` MUST_NOT term,
    presentation / content / parallel MathML, and mixed text+math.
    Terms, phrases and formulae are taken from one corpus document each,
    so, like a user's query, every query has hits."""
    rng = _rng(seed, "pool")
    words_of = {p: ws for p, ws in zip(docs["path"], (
        _doc_words(c, lg) for c, lg in zip(docs["content"], docs["lang"])))}
    bodies = [ws for ws in words_of.values() if len(ws) > 1]
    words = sorted(set(mc.VOCAB) | set(TEXT_WORDS))
    # make_corpus row ids of the XHTML (math-bearing) documents
    math_docs = {int(p.rsplit("_", 1)[1].split(".")[0]): words_of[p]
                 for p, lg in zip(docs["path"], docs["lang"])
                 if lg == "xhtml"}
    gen_ids = sorted(math_docs)
    out: list[str] = []
    seen: set[str] = set()

    def doc_terms(n: int) -> list[str]:
        ws = bodies[int(rng.integers(0, len(bodies)))]
        return [ws[int(j)] for j in rng.integers(0, len(ws), n)]

    def ast(i: int | None = None):
        """A formula of document ``i`` (default: a random one)."""
        if i is None:
            i = gen_ids[int(rng.integers(0, len(gen_ids)))]
        if i % 37 == 0 or (i % 37 != 1 and rng.integers(0, 10) == 0):
            return mc.EXACT_AST
        if i % 37 == 1:
            return mc.fuzzy_ast(i)
        # every document has formula slot 1; later slots may not exist
        # in it but their subformulae occur across the corpus
        return mc.random_ast(i, int(rng.integers(1, 4)))

    def phrase() -> str:
        ws = bodies[int(rng.integers(0, len(bodies)))]
        j = int(rng.integers(0, len(ws) - 1))
        return f"{ws[j]} {ws[j + 1]}"

    for _ in range(100 * size):
        if len(out) == size:
            return out
        # pool[i] has shape i % N_SHAPES
        shape = len(out) % N_SHAPES
        if shape == 0:
            q = doc_terms(1)[0]
        elif shape == 1:
            q = " ".join(doc_terms(int(rng.integers(2, 4))))
        elif shape == 2:
            q = " AND ".join(doc_terms(2))
        elif shape == 3:
            q = f'"{phrase()}" -{words[int(rng.integers(0, len(words)))]}'
        elif shape == 4:
            q = _math(ast(), "P")
        elif shape == 5:
            q = _math(ast(), "C")
        elif shape == 6:
            q = _math(ast(), "BOTH")
        else:
            i = gen_ids[int(rng.integers(0, len(gen_ids)))]
            ws = math_docs[i]
            q = f"{ws[int(rng.integers(0, len(ws)))]} {_math(ast(i), 'BOTH')}"
        if q not in seen:
            seen.add(q)
            out.append(q)
    raise ValueError(f"corpus too small for {size} distinct queries")


def is_math(query: str) -> bool:
    return "<math" in query


# ------------------------------------------------------------ ingest plan

def _revise(content: str, lang: str, token: str) -> str:
    """Content change that keeps the document well formed and carries
    the batch-unique token."""
    note = f"{token} revised"
    if lang == "xhtml" and "</body>" in content:
        return content.replace("</body>", f"<p>{note}</p></body>", 1)
    return content + f"\n{note}\n"


@dataclass
class IngestBatch:
    token: str             # batch-unique query term
    upsert: pd.DataFrame   # new docs + content-changed redeliveries
    delete_prefix: str     # delete_by_path argument


def ingest_batch(seed: int, base: pd.DataFrame, n_new: int,
                 n_redeliver: int, text_groups: int) -> IngestBatch:
    """One micro-batch against ``base``: ``n_new`` unseen docs and
    ``n_redeliver`` redeliveries of live docs, all carrying the batch
    token, then a recursive delete of one seed-chosen text group."""
    rng = _rng(seed, "ingest")
    token = f"ingesttok{seed}"
    taken = {int(p.rsplit("_", 1)[1].split(".")[0])
             for p in base["path"] if p.startswith("src/")}
    free = np.array([i for i in range(CORPUS_SPACE) if i not in taken])
    n_gen = n_new - n_new // 2
    # one XHTML, markdown and python row in turn, as in base_corpus
    kinds = [(0, 5), (5, 8), (8, 10)]
    new_ids = np.sort([rng.choice(free[(free % 10 >= lo) & (free % 10 < hi)])
                       for lo, hi in (kinds[j % 3] for j in range(n_gen))])
    new = mc.make_corpus(CORPUS_SPACE).iloc[new_ids].copy()
    trng = _rng(seed, "ingest-text")
    new = pd.concat([new, pd.DataFrame(
        [_text_row(seed, 100000 + k, "new", trng)
         for k in range(n_new // 2)])], ignore_index=True)
    red = base.iloc[np.sort(rng.choice(len(base), n_redeliver,
                                       replace=False))].copy()
    batch = pd.concat([new, red], ignore_index=True)
    batch["content"] = [_revise(c, lg, token) for c, lg in
                        zip(batch["content"], batch["lang"])]
    group = int(rng.integers(0, text_groups))
    return IngestBatch(token, batch[base.columns.tolist()],
                       f"text/g{group}/")


def merged(live: pd.DataFrame, rows: pd.DataFrame) -> pd.DataFrame:
    """The live corpus after an upsert of ``rows`` (MERGE on
    (repo, path, commit))."""
    key = ["repo", "path", "commit"]
    keep = ~live.set_index(key).index.isin(rows.set_index(key).index)
    return pd.concat([live[keep], rows], ignore_index=True)


def deleted(live: pd.DataFrame, prefix: str) -> pd.DataFrame:
    """The live corpus after ``delete_by_path(prefix)``."""
    return live[~live["path"].str.startswith(prefix)] \
        .reset_index(drop=True)
