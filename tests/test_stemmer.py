"""Stemmer unit tests: the vocabulary of Porter's published algorithm
description, stemmed by the English Snowball (Porter2) stemmer the
engine uses, plus the UDF wrapper shape. Porter2 keeps Porter's stem
for all but three of these words; those three carry Porter2's stem."""

from __future__ import annotations

import pytest

from production_ready_ds_spark.functions.snowball import snowball_stem


@pytest.mark.parametrize(
    "word,stem",
    [
        ("caresses", "caress"),
        ("ponies", "poni"),
        ("caress", "caress"),
        ("cats", "cat"),
        ("feed", "feed"),
        ("agreed", "agre"),
        ("plastered", "plaster"),
        ("bled", "bled"),
        ("motoring", "motor"),
        ("sing", "sing"),
        ("conflated", "conflat"),
        ("troubled", "troubl"),
        ("sized", "size"),
        ("hopping", "hop"),
        ("tanned", "tan"),
        ("falling", "fall"),
        ("hissing", "hiss"),
        ("fizzed", "fizz"),
        ("failing", "fail"),
        ("filing", "file"),
        ("happy", "happi"),
        ("sky", "sky"),
        ("relational", "relat"),
        ("conditional", "condit"),
        ("rational", "ration"),
        ("digitizer", "digit"),
        ("operator", "oper"),
        ("feudalism", "feudal"),
        ("hopefulness", "hope"),
        ("callousness", "callous"),
        ("formaliti", "formal"),
        ("sensitiviti", "sensit"),
        ("triplicate", "triplic"),
        ("formative", "format"),  # Porter: "form"
        ("formalize", "formal"),
        ("electriciti", "electr"),
        ("electrical", "electr"),
        ("hopeful", "hope"),
        ("goodness", "good"),
        ("revival", "reviv"),
        ("allowance", "allow"),
        ("inference", "infer"),
        ("airliner", "airlin"),
        ("gyroscopic", "gyroscop"),
        ("adjustable", "adjust"),
        ("defensible", "defens"),
        ("irritant", "irrit"),
        ("replacement", "replac"),
        ("adjustment", "adjust"),
        ("dependent", "depend"),
        ("adoption", "adopt"),
        ("homologou", "homologou"),  # Porter: "homolog"
        ("communism", "communism"),  # Porter: "commun"
        ("activate", "activ"),
        ("angulariti", "angular"),
        ("homologous", "homolog"),
        ("effective", "effect"),
        ("bowdlerize", "bowdler"),
        ("probate", "probat"),
        ("rate", "rate"),
        ("cease", "ceas"),
        ("controll", "control"),
        ("roll", "roll"),
    ],
)
def test_porter_vocabulary(word, stem):
    assert snowball_stem(word) == stem


def test_stem_udf_on_spark(spark):
    from pyspark.sql import functions as F

    from production_ready_ds_spark.functions.stemmer import stem_tokens_udf

    df = spark.createDataFrame(
        [(1, ["motoring", "ponies", "cats"])], "id int, toks array<string>"
    )
    out = df.select(stem_tokens_udf()(F.col("toks")).alias("stems")).collect()
    assert out[0].stems == ["motor", "poni", "cat"]
