"""Source readers: range-partitioned JDBC and Kafka-shaped streams."""
