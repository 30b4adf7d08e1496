from us_flight_bigdata_dashboard_spark.functions.exact import dsum, davg, sql_dsum, sql_davg
from us_flight_bigdata_dashboard_spark.functions.timenorm import sql_hhmm_to_clock

__all__ = ["dsum", "davg", "sql_dsum", "sql_davg", "sql_hhmm_to_clock"]
