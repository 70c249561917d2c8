from .utxo_dump import (
    UTXO_SCHEMA,
    index_utxo_dump,
    read_utxo_dump,
    write_utxo_dump,
)
from .convert import convert_utxo_dump_to_parquet
from .datasource import register_utxo_datasource

__all__ = [
    "UTXO_SCHEMA",
    "index_utxo_dump",
    "read_utxo_dump",
    "write_utxo_dump",
    "convert_utxo_dump_to_parquet",
    "register_utxo_datasource",
]
