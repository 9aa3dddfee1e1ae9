from .readers import load_table, load_tables, read_papers_json, read_stopwords
from .writers import write_csv, write_parquet, write_text

__all__ = [
    "load_table",
    "load_tables",
    "read_papers_json",
    "read_stopwords",
    "write_csv",
    "write_parquet",
    "write_text",
]
