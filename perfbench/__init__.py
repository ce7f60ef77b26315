"""Copy-engine benchmark (see README.md)."""
