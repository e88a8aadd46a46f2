"""The vectorized shingle kernel against Spark itself: the numpy XXH64 is
pinned to ``F.xxhash64`` (plain and seeded), and the kernel's n-grams and
hashed sets to the n-gram expression the operators used to evaluate
row by row, kept here as the reference oracle."""

import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from agr_loader_spark.operators.shingle import (
    minhash_seeds,
    shingle_batch,
    shingle_sets,
    xxhash64,
)


def _gram_array(text_col: str, n: int):
    """Word n-gram array expression, SAFE for sub-n-token documents: a
    doc with fewer than n tokens has no n-grams, so it gets an EMPTY
    array (Spark's `sequence(0, negative)` would otherwise produce a
    descending range and `slice(toks, 0, n)` throws at runtime)."""
    toks = F.split(F.trim(F.col(text_col)), "\\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _pin_strings():
    out = []
    for length in range(0, 101):
        out.append("".join(chr(97 + (i * 7 + length) % 26) for i in range(length)))
        out.append(("é字😀" * 30).encode()[:length].decode(errors="ignore"))
    return out


def test_xxhash64_matches_spark(spark):
    strs = _pin_strings()
    # every byte length 0..100 crosses the <4, 4-7, 8-31, >=32 and
    # >=64-byte paths; the multibyte strings cover UTF-8 > 1 byte/char
    assert {len(s.encode()) for s in strs} >= set(range(0, 101))
    df = spark.createDataFrame(list(enumerate(strs)), "i int, s string")
    seeds = (0, 1, 63)
    got = df.select(
        "i", F.xxhash64("s").alias("h"),
        *[F.xxhash64(F.lit(k), F.col("s")).alias(f"h{k}") for k in seeds],
    ).orderBy("i").collect()
    arr = pa.array(strs, pa.string())
    assert xxhash64(arr).tolist() == [r["h"] for r in got]
    seeded = xxhash64(arr, minhash_seeds(64))
    for k in seeds:
        assert seeded[k].tolist() == [r[f"h{k}"] for r in got]
    # a sliced Arrow array hashes its own values
    assert xxhash64(arr.slice(7, 20)).tolist() == [r["h"] for r in got[7:27]]


_TEXTS = [
    None, "", " ", "   ", "\t", "\n\n", "solo", "two toks",
    # every Java \s character, as a separator and as the whole text
    "a\tb\nc\x0bd\x0ce\rf g", "\t\n\x0b\x0c\r ",
    # leading and trailing separators: trim strips only ' '
    "  a b  ", "\ta b\t", "\x0ba b c\x0b", " \r\na b\r\n ",
    # not Java whitespace: no-break space, em space, \x1c..\x1f
    "a b c d e\x1cf g\x1fh",
    # repeated grams, kept once in first-occurrence order
    "a b a b a b c", "x x x x x", "b a b a c a b",
    # multibyte
    "héllo wörld 字 字 😀 héllo wörld", "Ωμέγα  αλφα\tβήτα",
    # tokens over 64 bytes
    "w" * 65 + " " + "v" * 130 + " " + "w" * 65 + " " + "字" * 40,
    "edge twin doc alpha beta gamma delta",
]


@pytest.fixture(scope="module")
def texts(spark):
    rows = [(i, t) for i, t in enumerate(_TEXTS)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("n", [1, 2, 3])
def test_kernel_equals_gram_oracle(spark, texts, n):
    grams = F.array_distinct(_gram_array("text", n))
    ref = texts.select(
        "doc_id", grams.alias("g"),
        F.transform(grams, lambda s: F.xxhash64(s)).alias("sh_set"),
    ).withColumn("n_sh", F.size("sh_set")).orderBy("doc_id").collect()
    want = [(r["doc_id"], r["g"], r["sh_set"], r["n_sh"]) for r in ref]
    # the Spark operator (mapInArrow over several partitions)
    got = shingle_sets(texts.repartition(3), "text", "doc_id", n, grams=True)
    assert got.schema["n_sh"].dataType.simpleString() == "int"
    assert [tuple(r) for r in got.orderBy("doc_id").collect()] == want
    # the batch kernel itself, and without the gram strings
    out = shingle_batch(pa.array(_TEXTS, pa.string()), n, grams=True)
    assert list(zip(range(len(_TEXTS)), out["__grams"].to_pylist(),
                    out["sh_set"].to_pylist(), out["n_sh"].to_pylist())) == want
    bare = shingle_batch(pa.array(_TEXTS, pa.string()), n)
    assert "__grams" not in bare
    assert bare["sh_set"].to_pylist() == [w[2] for w in want]
