from .bi5_codec import (
    BI5_PATH_RE,
    Bi5FileMeta,
    decode_bi5_bytes,
    decode_bi5_file,
    hour_epoch_micros,
    iter_bi5_files,
    parse_bi5_path,
)
from .bi5_datasource import BI5_SCHEMA, Bi5DataSource

__all__ = [
    "BI5_PATH_RE",
    "BI5_SCHEMA",
    "Bi5DataSource",
    "Bi5FileMeta",
    "decode_bi5_bytes",
    "decode_bi5_file",
    "hour_epoch_micros",
    "iter_bi5_files",
    "parse_bi5_path",
]
