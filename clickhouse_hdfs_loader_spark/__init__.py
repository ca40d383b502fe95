"""PySpark-native engine with the capabilities of jaykelin/clickhouse-hdfs-loader."""

__version__ = "0.1.0"
