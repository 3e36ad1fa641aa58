"""Source readers and sinks (SURVEY §2.1 scans, §2.2 sinks)."""
