"""Host-sized benchmark of the dedup engine (see README.md)."""
