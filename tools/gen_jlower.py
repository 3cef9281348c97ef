r"""Derive and freeze the Java/Spark-equivalent lowercase tables for the
DuckDB oracles (emits api_log_iceberg_test_spark/operators/_casing_tables.py).

Why this exists (r14): Spark's ``lower()`` is the JDK's Unicode FULL default
case mapping; DuckDB's is utf8proc's SIMPLE mapping from an older Unicode
version. An exhaustive all-codepoints sweep found 71 unconditional
divergences (70 one-to-one, plus U+0130 'İ' which expands to ``i`` +
U+0307) AND the context-sensitive final-sigma rule: Java lowers an
UPPERCASE Σ to ς when it is preceded by a cased character and not followed
by one, treating Case_Ignorable characters (combining marks, apostrophes,
FULL STOP, colon, middle dot, …) as transparent on both sides — while
pre-existing lowercase σ is never touched. RE2 (DuckDB's regex engine) has
no lookarounds and its category tables lag the JDK's Unicode version, so
the oracle construction is:

1. apply the final-sigma rule on the ORIGINAL text (neighbors still carry
   their case, and only uppercase Σ is targeted) with capture groups
   instead of lookarounds, using RE2 ``\p`` classes EXTENDED by the
   empirically-derived delta characters RE2 does not classify;
2. ``translate`` the 70 one-to-one divergent chars straight to their
   Spark-lowered forms and ``replace`` İ;
3. plain ``lower()`` for everything else.

Everything is derived EMPIRICALLY from the two engines, not from Unicode
tables: "cased" means inserting the char before a final Σ makes Spark
produce ς; "case-ignorable" means the char is transparent to that
decision; the RE2 side of each delta is what DuckDB's own
``regexp_matches`` says about its ``\p`` classes. The known residual gap
is printed (chars RE2 classifies as ignorable that the engine does not —
one char, U+1171E, at generation time) and frozen into the module for the
docstring; text containing it may still diverge around a sigma.

Run: python tools/gen_jlower.py          # derive, verify, rewrite module
The verification stage replays an 8k-text adversarial corpus through
Spark lower() and the generated DuckDB expression and asserts ZERO
mismatches before writing anything.
"""

from __future__ import annotations

import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def derive():
    import duckdb
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()

    chars = [chr(c) for c in range(0x110000) if not (0xD800 <= c <= 0xDFFF)]

    # --- unconditional single-char divergences ---------------------------
    df = spark.createDataFrame([(c,) for c in chars], ["x"])
    sp = {r["x"]: r["l"] for r in df.select("x", F.lower("x").alias("l")).collect()}
    con.register("t", pd.DataFrame({"x": chars}))
    du = dict(con.execute("SELECT x, lower(x) FROM t").fetchall())
    diffs = [(x, sp[x]) for x in chars if sp[x] != du[x]]
    multi = [(x, s) for x, s in diffs if len(s) > 1]
    assert multi == [("İ", "i̇")], f"unexpected multi-char mappings: {multi}"
    one = [(x, s) for x, s in diffs if len(s) == 1]
    tr_from = "".join(x for x, _ in one)
    tr_to = "".join(s for _, s in one)

    # --- engine-empirical cased / case-ignorable sets --------------------
    probe_chars = [c for c in chars if c != "Σ"]
    rows = [(c, "Σ" + c + "Β", "Α" + c + "Σ", c + "Σ") for c in probe_chars]
    pdf = spark.createDataFrame(rows, ["c", "a", "b", "d"])
    got = pdf.select(
        "c",
        F.lower("a").alias("la"),
        F.lower("b").alias("lb"),
        F.lower("d").alias("ld"),
    ).collect()
    cased, ignorable = set(), set()
    for r in got:
        if r["ld"].endswith("ς"):
            cased.add(r["c"])
        elif r["la"][0] == "σ" and r["lb"].endswith("ς"):
            ignorable.add(r["c"])
    # Σ itself cannot be probed with Σ-context tests but is a cased
    # letter (a neighbor Σ counts as cased context — 'ΑΣΣ' → 'ασς')
    cased.add("Σ")

    # --- deltas vs what RE2's \p classes actually match ------------------
    re2_cased = set(
        x
        for x, m in con.execute(
            r"SELECT x, regexp_matches(x, '^[\p{Ll}\p{Lu}\p{Lt}]$') FROM t"
        ).fetchall()
        if m
    )
    re2_ign = set(
        x
        for x, m in con.execute(
            r"SELECT x, regexp_matches(x, '^[\p{Mn}\p{Me}\p{Cf}\p{Lm}\p{Sk}]$') FROM t"
        ).fetchall()
        if m
    )
    cased_plus = "".join(sorted(cased - re2_cased))
    cased_minus = "".join(sorted(re2_cased - cased))
    ign_plus = "".join(sorted(ignorable - re2_ign))
    ign_minus = "".join(sorted(re2_ign - ignorable))
    assert not cased_minus, f"RE2 cased class over-claims: {cased_minus!r}"

    # --- verify the full construction against Spark ----------------------
    from api_log_iceberg_test_spark.operators import casing

    tables = {
        "TRANSLATE_FROM": tr_from,
        "TRANSLATE_TO": tr_to,
        "CASED_PLUS": cased_plus,
        "IGN_PLUS": ign_plus,
        "IGN_MINUS": ign_minus,
    }
    jl = casing.jlower_sql("x", tables=tables)
    rng = random.Random(7)
    alphabet = (
        list("ΑΒΓΔΣΩΫσςαβγİIiı漢абЖ '’.:·-") + ["̈", "״"]
        + [chr(0x1C89), chr(0xA7CB), chr(0x10570), chr(0x24B6), chr(0x2160), "ª"]
        + ["Σ"] * 4
    )
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 14)))
        for _ in range(8000)
    ]
    texts += ["ΑΣ", "ΑΣ Β", "ΟΔΟΣ.", "ΣΣ", "ΑΣΣ", "Α'Σ", "ΑΣ̈", "漢Σ", "ΑΣ漢",
              "İ", "İΣ", "ΑΣ'", "Ω'Σ Α", "ΑΣ.Β", "ΑΣ.", "Α.Σ", "Α:Σ:Β", "ⅯΣ", "ⒶΣ"]
    sdf = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "x"])
    spl = {r["i"]: r["l"] for r in sdf.select("i", F.lower("x").alias("l")).collect()}
    con.register("tx", pd.DataFrame({"i": range(len(texts)), "x": texts}))
    dul = dict(con.execute(f"SELECT i, {jl} FROM tx").fetchall())
    bad = [i for i in range(len(texts)) if spl[i] != dul[i]]
    assert not bad, f"{len(bad)} verification mismatches, first: {texts[bad[0]]!r}"
    print(f"verified: 0 mismatches over {len(texts)} adversarial texts")
    return tables


def emit(tables: dict) -> str:
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "api_log_iceberg_test_spark", "operators", "_casing_tables.py",
    )
    with open(path, "w") as f:
        f.write(
            '"""FROZEN engine-empirical casing tables — generated by '
            "tools/gen_jlower.py.\n\nDo not edit by hand; re-run the generator "
            "(it verifies against both engines\nbefore writing). See "
            "operators/casing.py for how these are used.\n"
            '"""\n\n'
        )
        for k, v in tables.items():
            f.write(f"{k} = {ascii(v)}\n")  # pure-ASCII \uXXXX literals
    return path


if __name__ == "__main__":
    print("wrote", emit(derive()))
