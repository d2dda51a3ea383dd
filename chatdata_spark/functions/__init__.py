"""Engine function layer: vector ops, ClickHouse-name parity, text analysis."""
