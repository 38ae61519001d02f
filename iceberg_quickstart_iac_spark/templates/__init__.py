"""YAML table templates — the single source of truth for table schemas.

Parity target: the reference's template pipeline
(``dagster/lakehouse/utils/table_loader.py:14-73`` and
``table-templates/_schema.json``), re-expressed for Spark: templates
compile to ``StructType`` (instead of ``pa.schema``) and to Iceberg DDL
(instead of Terraform-rendered Athena/BigQuery DDL).
"""

from iceberg_quickstart_iac_spark.templates.ddl import (
    create_namespace_ddl,
    create_table_ddl,
    write_order_ddl,
)
from iceberg_quickstart_iac_spark.templates.loader import (
    SPEC_DIR,
    get_column_names,
    get_restricted_columns,
    get_template,
    iceberg_type_to_spark,
    load_table_templates,
    spark_schema,
    spark_type,
    template_type,
)

__all__ = [
    "SPEC_DIR",
    "create_namespace_ddl",
    "create_table_ddl",
    "write_order_ddl",
    "get_column_names",
    "get_restricted_columns",
    "get_template",
    "iceberg_type_to_spark",
    "load_table_templates",
    "spark_schema",
    "spark_type",
    "template_type",
]
