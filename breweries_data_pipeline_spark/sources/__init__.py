from breweries_data_pipeline_spark.sources.readers import (  # noqa: F401
    csv_fixture_from_orders,
    evolving_parquet_fixture,
    json_fixture_from_events,
    orc_fixture_from_orders,
    read_csv,
    read_json,
    read_orc,
    read_parquet_evolved,
    read_table,
    read_text_lines,
    read_xml,
    xml_fixture_from_orders,
)
from breweries_data_pipeline_spark.sources.writers import (  # noqa: F401
    AuditFailure,
    write_audit_publish,
    write_parquet,
    write_quality_report,
    write_zordered,
)
