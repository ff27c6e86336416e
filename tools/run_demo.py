"""End-to-end demo of the Engine facade on the driver fixtures — the
conversation a reference user would have, minus the LLM:

    python tools/run_demo.py [sf_dir]

1. build a keyword vocabulary from the documents corpus
2. retrieve keywords for a question
3. materialize a stage-1 filter query (with schema+head echo)
4. preview a candidate stage-2 query
5. produce bar-chart data + insights over the intermediary
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import functions as F

    from data_pengadaan_agent_spark.engine import Engine
    from data_pengadaan_agent_spark.operators.textan import vocabulary
    from data_pengadaan_agent_spark.session import get_spark
    from data_pengadaan_agent_spark.sources.catalog import load_table

    spark = get_spark("demo")
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        vocabulary(docs).orderBy(F.desc("df"), "token").limit(100)
        .select(F.col("token").alias("keyword"))
    )
    eng = Engine(spark, docs, base_name="documents_base", vocab_df=vocab)

    print("== 1. retrieve_keywords('sparkling joins') ==")
    print(json.dumps(eng.retrieve_keywords("sparkling joins", top_k=5), indent=2))

    print("== 2. schema_check (tables) ==")
    print(sorted(eng.schema_check().keys()))

    print("== 3. materialize stage-1 filter ==")
    echo = eng.materialize(
        "SELECT * FROM documents_base WHERE lower(text) LIKE '%join%'"
    )
    print(f"  cols={[f['name'] for f in echo['schema']['fields']]}")
    print(f"  first_rows={len(echo['first_rows'])}")

    print("== 4. preview candidate stage-2 query ==")
    prev = eng.preview("SELECT source, n_chars FROM intermediary_table")
    print(f"  {prev['first_rows'][:2]}")

    print("== 5. bar chart data + insights ==")
    data, insights = eng.bar_chart(
        "SELECT source, count(*) AS n FROM intermediary_table GROUP BY source",
        x="source",
        y="n",
    )
    print(f"  rows={len(data)} insights={insights}")
    spark.stop()


if __name__ == "__main__":
    main()
