"""CPG engine benchmark (see README.md)."""
