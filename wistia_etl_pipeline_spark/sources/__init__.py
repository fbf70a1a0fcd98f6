"""Sources & sinks: REST paginated source, transaction-log table,
layout writers, control-file state store."""
