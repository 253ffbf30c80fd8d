from lakeview_spark.sources.listing import list_dir_local, discover_tables  # noqa: F401
from lakeview_spark.sources.properties import read_hoodie_properties  # noqa: F401
