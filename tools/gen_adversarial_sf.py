#!/usr/bin/env python3
"""Write a copy of a testdata SF dir whose `documents` also holds text
built to break tokenizers (oracle parity on edge cases).

Usage: python3 tools/gen_adversarial_sf.py <src_sf_dir> <dst_dir>

<dst_dir> must lie under the system temp dir (e.g. /tmp/sf_adv): the
copy is scratch, never testdata. Every table but `documents` is copied
as it is. `documents` keeps its rows and gains, for each text below,
one doc per template row: the first TEMPLATES docs by doc_id lend
their lang, source and n_chars is recomputed; new doc_ids continue
after the largest one. Deterministic: the same source gives the same
copy.

Then, e.g.:
    tools/run_verify.sh /tmp/sf_adv /tmp/verify_adv \\
        text_quality_model,pipeline_dsir_weights,text_quality_train
    python3 tools/check_oracle.py /tmp/verify_adv /tmp/sf_adv
"""
import os
import sys
import tempfile

import duckdb

TEMPLATES = 5

TEXTS = [
    None,                                  # NULL text
    "",                                    # empty
    " ", "   ", "\t",                      # whitespace only
    "double  space  text here",            # empty tokens inside
    "  leading spaces", "trailing spaces  ",
    "one",                                 # one word
    "的是了 在 我的 中文 文本",              # CJK
    "emoji 😀 👍🏽 🇩🇪 text",                # emoji, modifiers, flags
    "cafe\u0301 nai\u0308ve e\u0301 \u0301",  # combining marks
    "x" * 5000,                            # one 5000-character word
]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    src, dst = sys.argv[1], os.path.realpath(sys.argv[2])
    tmp = os.path.realpath(tempfile.gettempdir())
    if os.path.commonpath([dst, tmp]) != tmp or dst == tmp:
        sys.exit(f"gen_adversarial_sf: {dst} is not under {tmp}")
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for f in sorted(os.listdir(src)):
        if f.endswith(".parquet") and f != "documents.parquet":
            con.execute(f"COPY (SELECT * FROM '{src}/{f}') "
                        f"TO '{dst}/{f}' (FORMAT PARQUET)")
    docs = f"'{src}/documents.parquet'"
    con.execute("CREATE TABLE adv (k INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO adv VALUES (?, ?)", list(enumerate(TEXTS)))
    next_id = con.execute(f"SELECT max(doc_id) + 1 FROM {docs}").fetchone()[0]
    con.execute(f"""
        COPY (
          SELECT * FROM {docs}
          UNION ALL BY NAME
          SELECT CAST({next_id} + a.k * {TEMPLATES} + t.r AS BIGINT) AS doc_id,
                 a.text, t.lang, t.source,
                 CAST(length(a.text) AS BIGINT) AS n_chars
          FROM adv a,
               (SELECT lang, source, row_number() OVER (ORDER BY doc_id) - 1 AS r
                FROM {docs} ORDER BY doc_id LIMIT {TEMPLATES}) t
          ORDER BY doc_id
        ) TO '{dst}/documents.parquet' (FORMAT PARQUET)""")
    n = con.execute(f"SELECT count(*) FROM '{dst}/documents.parquet'").fetchone()[0]
    print(f"documents {n} ({len(TEXTS) * TEMPLATES} adversarial)")


if __name__ == "__main__":
    main()
