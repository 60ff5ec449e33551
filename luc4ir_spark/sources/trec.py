"""TREC ecosystem sources & sinks.

Covers the reference's query/judgment/run-file I/O surface:
- TREC XML topics (reference: trec/TRECQueryParser.java:42-89 SAX parse
  of <top><num><title><desc><narr>) — parsed driver-side (topic files
  are tiny: 250 topics) into a queries DataFrame;
- TSV queries ``qid \\t text`` (reference: retriever/TrecDocRetriever.
  java:93-102, retriever/MsMarcoTopDocs.java:27-36);
- qrels ``qid iter docid rel`` whitespace-split (reference:
  evaluator/AllRelRcds.java:30-51);
- run files ``qid Q0 docid rank score runid`` read (reference:
  evaluator/AllRetrievedResults.java:18-38) and written (reference:
  retriever/TrecDocRetriever.java:267-298 — we emit the standard 6-col
  layout of the committed res.txt, not the code's 7-col debug variant).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

QUERY_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("desc", T.StringType()),
        T.StructField("narr", T.StringType()),
    ]
)

QRELS_SCHEMA = "qid string, iter string, docid string, rel double"
RUN_SCHEMA = (
    "qid string, q0 string, docid string, rank long, score double,"
    " runid string"
)


def _clean(s: str | None) -> str:
    return re.sub(r"\s+", " ", s or "").strip()


def parse_trec_topics_text(xml_text: str) -> list[dict]:
    """Parse TREC <top> blocks. TREC topic files are SGML-ish (unclosed
    tags), so we parse per-block with regexes rather than strict XML —
    the same tag grammar the reference's SAX handler walks."""
    topics = []
    for block in re.findall(r"<top>(.*?)</top>", xml_text, re.S | re.I):
        def field(tag: str) -> str:
            # TREC topics come both as classic SGML (no closing tags;
            # a field runs until the next field opens) and as well-
            # formed XML (</num> etc.) — stop at either
            m = re.search(
                rf"<{tag}>(.*?)(?=</?(?:num|title|desc|narr)\b|$)",
                block,
                re.S | re.I,
            )
            return _clean(m.group(1)) if m else ""

        num = field("num")
        num = re.sub(r"(?i)^number\s*:?\s*", "", num).strip()
        title = field("title")
        title = re.sub(r"(?i)^topic\s*:?\s*", "", title).strip()
        desc = re.sub(r"(?i)^description\s*:?\s*", "", field("desc"))
        narr = re.sub(r"(?i)^narrative\s*:?\s*", "", field("narr"))
        topics.append(
            {"qid": num, "title": title, "desc": desc, "narr": narr}
        )
    return topics


def read_trec_topics(spark: SparkSession, path: str) -> DataFrame:
    with open(path, encoding="utf-8", errors="replace") as fh:
        topics = parse_trec_topics_text(fh.read())
    return spark.createDataFrame(
        [(t["qid"], t["title"], t["desc"], t["narr"]) for t in topics],
        QUERY_SCHEMA,
    )


def read_tsv_queries(spark: SparkSession, path: str) -> DataFrame:
    """``qid \\t text`` lines -> (qid, title) DataFrame (distributed read)."""
    return (
        spark.read.option("sep", "\t")
        .schema("qid string, title string")
        .csv(path)
    )


def read_qrels(spark: SparkSession, path: str) -> DataFrame:
    """Whitespace-separated ``qid iter docid rel``; the reference ignores
    the iter column and keeps the rest (AllRelRcds.java:42-51)."""
    lines = spark.read.text(path)
    parts = F.split(F.trim(F.col("value")), r"\s+")
    return lines.select(
        parts.getItem(0).alias("qid"),
        parts.getItem(1).alias("iter"),
        parts.getItem(2).alias("docid"),
        parts.getItem(3).cast("double").alias("rel"),
    ).filter(F.col("qid").isNotNull() & (F.trim("value") != ""))


def read_run(spark: SparkSession, path: str) -> DataFrame:
    """TREC run file -> DataFrame (reference reads cols 0,2,3:
    AllRetrievedResults.java:18-38; we keep score/runid too)."""
    lines = spark.read.text(path)
    parts = F.split(F.trim(F.col("value")), r"\s+")
    return lines.filter(F.trim("value") != "").select(
        parts.getItem(0).alias("qid"),
        parts.getItem(1).alias("q0"),
        parts.getItem(2).alias("docid"),
        parts.getItem(3).cast("long").alias("rank"),
        parts.getItem(4).cast("double").alias("score"),
        parts.getItem(5).alias("runid"),
    )


def write_run(run: DataFrame, path: str) -> None:
    """Write a TREC run in the byte layout of the reference's writer:
    one tab-separated file ``qid Q0 docid rank score runid``,
    rank-ascending per qid, scores printed ``%.6f``, via a driver-side
    write (run files are k docs x queries).

    The score column is what ``retrieval.to_trec_run`` gives: float32,
    the reference's ``ScoreDoc.score``. Two docs whose double scores
    differ below float32 resolution print the same score; the rank
    column still carries the engine's double order (score desc,
    doc_id asc)."""
    cols = ["qid", "q0", "docid", "rank", "score", "runid"]
    rows = run.select(*cols).orderBy("qid", "rank").collect()
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(
                f"{r['qid']}\t{r['q0']}\t{r['docid']}\t{r['rank']}"
                f"\t{r['score']:.6f}\t{r['runid']}\n"
            )
