"""Sinks: round-robin shard assignment (O33), the TFRecord container
format (O35), the PNG and JSON sinks, and the bucketed-table layout."""
