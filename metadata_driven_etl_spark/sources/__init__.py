from metadata_driven_etl_spark.sources.readers import read_file_source  # noqa: F401
from metadata_driven_etl_spark.sources.jdbc import build_jdbc_reader  # noqa: F401
from metadata_driven_etl_spark.sources.rest_api import read_api_source  # noqa: F401
