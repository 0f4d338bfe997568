from mydumper_spark.sinks.writers import (  # noqa: F401
    CsvFormat,
    write_csv,
    write_load_data,
    write_parquet,
)
from mydumper_spark.sinks.manifest import Manifest, write_manifest, read_manifest  # noqa: F401
