"""Sources: the callback handle registry."""
