from group_2_shopware_enterprise_data_engineering_project_spark.sources.tables import (
    TABLE_NAMES,
    register_views,
    table,
)

__all__ = ["TABLE_NAMES", "register_views", "table"]
