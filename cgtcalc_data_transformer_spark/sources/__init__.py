from cgtcalc_data_transformer_spark.sources.csv import (
    read_header_csv,
    read_preamble_csv,
    df_from_csv_string,
)
from cgtcalc_data_transformer_spark.sources.eml import read_eml_dir, df_from_email_strings
from cgtcalc_data_transformer_spark.sources.tpch import load_table, load_tables, load_events
from cgtcalc_data_transformer_spark.sources.text_output import (
    head_lines,
    read_existing_output,
    replace_output,
    write_output,
)

__all__ = [
    "read_header_csv",
    "read_preamble_csv",
    "df_from_csv_string",
    "read_eml_dir",
    "df_from_email_strings",
    "load_table",
    "load_tables",
    "load_events",
    "read_existing_output",
    "write_output",
    "replace_output",
    "head_lines",
]
