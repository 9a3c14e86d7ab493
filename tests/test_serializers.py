"""Result serialization (output/serializers.py): the CSV writer
(RowCSVWriter parity) against the JSON envelope of the same frame."""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maha_spark.output.serializers import (  # noqa: E402
    to_csv_string, to_json_response)


def test_csv_header_nulls_and_rows_match_envelope(spark):
    df = spark.createDataFrame(
        [("a,b", 1, 2.5, dt.date(1996, 1, 2)),
         (None, None, -0.25, None),
         ('say "hi"', 3, None, dt.date(1996, 2, 29))],
        "name string, n int, x double, day date")
    text = to_csv_string(df)
    rows = list(csv.reader(io.StringIO(text)))
    assert rows[0] == ["name", "n", "x", "day"]
    assert rows[2][0] == "" and rows[2][1] == "" and rows[2][3] == ""
    envelope = to_json_response(df, cube="t")
    assert rows[1:] == [["" if v is None else str(v) for v in row]
                        for row in envelope["rows"]]
