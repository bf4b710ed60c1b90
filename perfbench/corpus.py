"""The benchmark's inputs, generated from the seed: synthetic source-code
corpora written as parquet tables, and the stream of top-k queries.

The token distribution follows graft.tools.SourceCodeGen: a vocabulary of
keywords, identifiers, module names and symbols, drawn with a quadratic
skew (token index floor(u^2 * V)), so keywords behave like stop words. In a
tiered corpus every tenth document is boilerplate, drawn with exponent 6
and so keyword-saturated; that document-level score correlation is what
impact-ordered doc ids turn into prunable block ranges.
"""

import random

import pyarrow as pa
import pyarrow.parquet as pq

KEYWORDS = [
    "import", "val", "def", "class", "object", "return", "if", "else",
    "for", "while", "match", "case", "trait", "new", "null", "true",
    "false", "try", "catch", "finally", "override", "private", "public",
    "static", "void", "int", "string", "let", "const", "fn", "func",
    "package", "struct", "enum", "impl", "use", "from", "self", "this"]
VOCAB = (KEYWORDS + [f"ident{i}" for i in range(400)]
         + [f"Module{i}" for i in range(50)]
         + ["(", ")", "{", "}", "=", "==", "=>", "->", ";", ":", ",",
            "+", "-", "*", "/", "&&", "||", "0", "1", "2", "42", "100"])
KEYWORD_SET = set(KEYWORDS)


def document(rnd, tiered):
    """(content, token count, keyword-density band) of one document."""
    exponent = 6.0 if tiered and rnd.random() < 0.1 else 2.0
    n = rnd.randint(20, 140)
    toks = [VOCAB[int(rnd.random() ** exponent * len(VOCAB))] for _ in range(n)]
    density = sum(t in KEYWORD_SET for t in toks) / n
    return " ".join(toks), n, round(density * 8)


def write(path, n, seed, tiered):
    """Write n documents with columns doc_id (0..n-1, generation order),
    path, content, and the impact-ordering key columns band (keyword
    density in eighths) and ntok (token count)."""
    rnd = random.Random(seed)
    rows = [document(rnd, tiered) for _ in range(n)]
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "path": [f"src/pkg{rnd.randrange(64)}/File{seed}_{i}.scala" for i in range(n)],
        "content": [r[0] for r in rows],
        "ntok": pa.array([r[1] for r in rows], pa.int32()),
        "band": pa.array([r[2] for r in rows], pa.int32()),
    })
    pq.write_table(table, path)


SHAPES = ["term", "hot", "or", "prefix", "and"]
IDENTS = [f"ident{i}" for i in range(40, 400)]  # each is one dictionary term
HOT = KEYWORDS[:4]
WARM = KEYWORDS[:12]
PREFIXABLE = [t for t in KEYWORDS + ["Module"] if len(t) >= 5]


def query(rnd, shape):
    if shape == "term":
        return rnd.choice(IDENTS)
    if shape == "hot":
        return rnd.choice(HOT)
    if shape == "or":
        return " ".join(rnd.choice(IDENTS if rnd.random() < 0.5 else WARM)
                        for _ in range(rnd.randint(2, 4)))
    if shape == "prefix":
        t = rnd.choice(PREFIXABLE)
        return t[:rnd.randint(3, min(5, len(t) - 1))]
    if shape == "and":
        return " ".join(rnd.sample(WARM, 2))
    raise ValueError(shape)


def write_queries(path, seed, cycles):
    """Write `cycles` cycles of top-k queries, one line `shape<TAB>query`
    each; a cycle holds one query of every shape, in a seeded order."""
    rnd = random.Random(seed)
    with open(path, "w") as fh:
        for _ in range(cycles):
            for shape in rnd.sample(SHAPES, len(SHAPES)):
                fh.write(f"{shape}\t{query(rnd, shape)}\n")
