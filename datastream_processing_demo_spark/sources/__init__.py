"""Sources beyond Spark's built-in readers: `plog`, the partitioned-log
message source (the reference's Pulsar analogue), and the file readers
with explicit schemas."""
